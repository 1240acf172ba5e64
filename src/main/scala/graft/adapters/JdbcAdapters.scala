package graft.adapters

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** JDBC columnar adapters, capability-parity with the reference
  * `jdbcColumnar` verbs (datacooker-jdbc/.../JdbcColumnarInput.java:27-77,
  * JdbcColumnarOutput.java:26-148), re-expressed on `spark.read.jdbc` /
  * `df.write.jdbc` so Spark generates per-partition range predicates,
  * pushes projection into the remote query, and batches inserts.
  *
  * Parallel-read semantics, both of them:
  *  - the reference's own mode (JdbcColumnarInput.java:62-77, built on
  *    Spark's classic `JdbcRDD(sc, conn, sql, 0, max(partCount,0),
  *    max(partCount,1))`): the user query carries two `?` placeholders
  *    and each partition binds them to its inclusive (start, end)
  *    sub-range of [0, partCount], split exactly as JdbcRDD splits it —
  *    supported here when the `query` contains placeholders, as one
  *    single-partition derived-table scan per part, unioned (the union
  *    keeps one Spark partition per part, so the N remote SELECTs run
  *    concurrently in one stage). `?` inside single-quoted SQL string
  *    literals is text, not a placeholder — same as PreparedStatement;
  *  - Spark's native `partitionColumn/lowerBound/upperBound/numPartitions`
  *    range split on a numeric column — declared as
  *    `partition_column`/`lower_bound`/`upper_bound` (no placeholders
  *    needed, and the remote DB sees sargable range predicates).
  * Without either the read is single-partition (same as the reference
  * with part_count=1).
  */
object JdbcPlaceholders {
  /** Split `q` on `?` placeholders the way PreparedStatement parsing
    * does: `?` inside single-quoted string literals, double-quoted
    * identifiers, `--` line comments, or `/* */` block comments is
    * text (doubled `''`/`""` quoting toggles through correctly).
    * `nestComments` controls whether an inner open marker deepens a
    * block comment: standard SQL and PostgreSQL nest, but most JDBC
    * targets (MySQL, SQL Server, Oracle, SQLite) end the comment at
    * the FIRST close marker — defaulting to non-nesting matches what
    * those drivers' parsers see, so a live `?` after the first close
    * stays a placeholder. Returns n+1 pieces for n placeholders. */
  def split(q: String, nestComments: Boolean = false): Seq[String] = {
    val pieces = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inStr = false
    var inIdent = false
    var inLine = false
    var depth = 0 // /* */ nesting
    var i = 0
    def twoChar(t: String): Boolean = i + 1 < q.length && q(i) == t(0) && q(i + 1) == t(1)
    while (i < q.length) {
      val c = q(i)
      if (inLine) {
        if (c == '\n') inLine = false
        sb.append(c); i += 1
      } else if (depth > 0) {
        if (twoChar("*/")) { depth -= 1; sb.append("*/"); i += 2 }
        else if (twoChar("/*") && nestComments) { depth += 1; sb.append("/*"); i += 2 }
        else { sb.append(c); i += 1 }
      } else if (inStr) {
        if (c == '\'') inStr = false // doubled '' toggles straight back in
        sb.append(c); i += 1
      } else if (inIdent) {
        if (c == '"') inIdent = false
        sb.append(c); i += 1
      } else if (twoChar("--")) {
        inLine = true; sb.append("--"); i += 2
      } else if (twoChar("/*")) {
        depth = 1; sb.append("/*"); i += 2
      } else c match {
        case '\'' => inStr = true; sb.append(c); i += 1
        case '"' => inIdent = true; sb.append(c); i += 1
        case '?' => pieces += sb.toString; sb.clear(); i += 1
        case _ => sb.append(c); i += 1
      }
    }
    pieces += sb.toString
    pieces.result()
  }

  /** JdbcRDD's inclusive (start, end) bound pair for partition `i` of
    * `parts` over [0, upper] — the exact split the reference inherits. */
  def bounds(i: Int, parts: Int, upper: Int): (Long, Long) = {
    val length = BigInt(1) + upper
    ((i * length / parts).toLong, ((i + 1) * length / parts - 1).toLong)
  }
}

final class JdbcColumnarInput extends InputAdapter {
  val meta: AdapterMeta = AdapterMeta(
    "jdbcColumnar",
    "Parallel SELECT from a JDBC source, one range-predicate per partition",
    Seq("jdbc:postgresql://host:5432/db", "jdbc:derby:memory:db"),
    JdbcColumnarInput.connectionParams ++ Seq(
      ParamDef("query",
        "SELECT to execute (wrapped as a derived table); two ? placeholders " +
          "bind each partition's inclusive (start, end) sub-range of " +
          "[0, part_count], split as JdbcRDD splits it"),
      ParamDef("table", "Table to read (alternative to query)"),
      ParamDef("nest_comments",
        "Whether /* */ comments nest when scanning the query for ? " +
          "placeholders (PostgreSQL/standard: true; MySQL, SQL Server, " +
          "Oracle, SQLite end at the first close: false, the default)", Some(false)),
      ParamDef("partition_column", "Numeric column to range-split on"),
      ParamDef("lower_bound", "Partitioning lower bound"),
      ParamDef("upper_bound", "Partitioning upper bound")))

  def load(
      spark: SparkSession,
      path: String,
      name: String,
      partCount: Int,
      conf: AdapterConf): ListMap[String, DataFrame] = {
    def reader(table: String) = {
      var r = spark.read.format("jdbc")
        .option("url", path)
        .option("driver", conf.str("driver").get)
        .option("dbtable", table)
      conf.str("user").foreach(u => r = r.option("user", u))
      conf.str("password").foreach(p => r = r.option("password", p))
      r
    }
    val pieces = conf.str("query")
      .map(JdbcPlaceholders.split(_, conf.bool("nest_comments")))
    val df = (conf.str("query"), conf.str("table")) match {
      case (Some(_), _) if pieces.exists(_.length > 1) =>
        // reference placeholder mode (JdbcColumnarInput.java:62-77):
        // JdbcRDD binds setLong(1, start) / setLong(2, end) per
        // partition over [0, part_count]. Textual substitution of the
        // integer literals is value-equivalent to PreparedStatement
        // binding on the same spots ('?' inside string literals already
        // filtered by the split).
        val ps = pieces.get
        require(ps.length == 3,
          s"jdbcColumnar: a placeholder query needs exactly two ?, got ${ps.length - 1}")
        require(conf.str("partition_column").isEmpty,
          "jdbcColumnar: a placeholder query and partition_column are mutually " +
            "exclusive — the ? ranges already define the partitioning")
        // note: each per-part reader resolves its schema against the remote
        // DB at plan time (N round-trips); acceptable for the reference's
        // moderate part counts, and the N SELECTs still run in one stage
        val parts = math.max(partCount, 1)
        (0 until parts)
          .map { i =>
            val (start, end) = JdbcPlaceholders.bounds(i, parts, math.max(partCount, 0))
            reader(s"(${ps(0)}$start${ps(1)}$end${ps(2)}) graft_part_$i").load()
          }
          .reduce(_.union(_))
      case (q, t) if q.orElse(t).isDefined =>
        var r = reader(q.map(s => s"($s) graft_src").getOrElse(t.get))
        (conf.str("partition_column"), conf.str("lower_bound"), conf.str("upper_bound")) match {
          case (Some(c), Some(lo), Some(hi)) if partCount > 0 =>
            r = r.option("partitionColumn", c)
              .option("lowerBound", lo)
              .option("upperBound", hi)
              .option("numPartitions", partCount)
          case _ => ()
        }
        r.load()
      case _ => throw new IllegalArgumentException("jdbcColumnar needs 'query' or 'table'")
    }
    ListMap(name -> df)
  }
}

private[adapters] object JdbcColumnarInput {
  /** The connection params both jdbcColumnar verbs declare first. */
  val connectionParams: Seq[ParamDef] = Seq(
    ParamDef("driver", "JDBC driver class FQN", required = true),
    ParamDef("user", "Connection user"),
    ParamDef("password", "Connection password"))
}

final class JdbcColumnarOutput extends OutputAdapter {
  val meta: AdapterMeta = AdapterMeta(
    "jdbcColumnar",
    "Batched INSERTs into a JDBC table, one connection per partition",
    Seq("jdbc:postgresql://host:5432/db", "jdbc:derby:memory:db"),
    JdbcColumnarInput.connectionParams ++ Seq(
      ParamDef("table", "Destination table (defaults to the stream sub-name)"),
      ParamDef("batch_size", "INSERT batch size", Some(500)),
      ParamDef.oneOf("mode", "SaveMode: append/overwrite/ignore/errorifexists",
        "append", "overwrite", "ignore", "errorifexists"),
      HadoopFiles.writeColumnsParam,
      ParamDef.list("upsert_keys",
        "Key columns: write becomes a keyed UPSERT into an " +
          "existing table (exactly-once per key on at-least-once delivery; " +
          "like any side-effecting sink, requires speculative execution off " +
          "or a unique key constraint on the target — " +
          "the keyed-target completion of the streaming foreachBatch sink)"),
      ParamDef.oneOf("upsert_dialect",
        "UPSERT statement dialect: 'update_insert' (portable UPDATE-then-" +
          "INSERT-if-absent inside a per-partition transaction, the " +
          "default — works on any target incl. Derby), 'merge' " +
          "(SQL-standard MERGE with a VALUES source: SQL Server, DB2, " +
          "H2), 'on_conflict' (PostgreSQL/SQLite INSERT .. ON CONFLICT), " +
          "'duplicate_key' (MySQL INSERT .. ON DUPLICATE KEY UPDATE)",
        "update_insert", "merge", "on_conflict", "duplicate_key")))

  import JdbcColumnarOutput.upsertSql

  /** Keyed upsert: one connection + transaction per partition. The
    * single-statement dialects batch `batchSize` rows per round trip;
    * the portable `update_insert` dialect runs UPDATE-then-INSERT per
    * row (the UPDATE's row count decides the INSERT), which every JDBC
    * target supports. The target table must exist (an UPSERT has no
    * schema to create from — unlike plain INSERT mode). */
  private def upsert(
      df: DataFrame, path: String, table: String, conf: AdapterConf,
      keys: Seq[String], dialect: String, batchSize: Int): Unit = {
    val schema = df.schema
    val driver = conf.str("driver").get
    val user = conf.str("user")
    val password = conf.str("password")
    // resolve statements NOW so a bad dialect/keys fails on the driver
    val single = if (dialect == "update_insert") None
      else Some(upsertSql(table, schema, keys, dialect))
    val pair = if (dialect == "update_insert")
      Some(JdbcColumnarOutput.updateInsertSql(table, schema, keys, path)) else None
    // typed null binding: setObject(m, null) is optional in the JDBC
    // spec and rejected by several targets the dialects advertise —
    // mirror Spark's own JdbcUtils and use setNull(pos, sqlType)
    val nullTypes = schema.fields.map(f => JdbcColumnarOutput.jdbcType(f.dataType)._1)
    df
      // co-locate every occurrence of a key in ONE partition: two
      // concurrent tasks holding the same key would otherwise both see
      // UPDATE=0 and both INSERT — duplicate rows with no error on a
      // constraint-free target. This serializes DISTINCT partitions;
      // duplicate attempts of the SAME partition (speculation, zombie
      // tasks after a stage retry) are the standard side-effecting-sink
      // caveat: run with speculation off or put a unique constraint on
      // the keys (then the loser's INSERT errors and the retry's UPDATE
      // path converges)
      .repartition(keys.map(col): _*)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      java.lang.Class.forName(driver)
      val props = new java.util.Properties()
      user.foreach(props.setProperty("user", _))
      password.foreach(props.setProperty("password", _))
      val conn = java.sql.DriverManager.getConnection(path, props)
      try {
        conn.setAutoCommit(false)
        def bind(ps: java.sql.PreparedStatement, row: org.apache.spark.sql.Row,
            order: Seq[Int]): Unit = {
          var m = 1
          order.foreach { i =>
            if (row.isNullAt(i)) ps.setNull(m, nullTypes(i)) else ps.setObject(m, row.get(i))
            m += 1
          }
        }
        (single, pair) match {
          case (Some(sql), _) =>
            val ps = conn.prepareStatement(sql)
            val order = schema.indices
            var pending = 0
            rows.foreach { row =>
              bind(ps, row, order)
              ps.addBatch()
              pending += 1
              if (pending >= batchSize) { ps.executeBatch(); pending = 0 }
            }
            if (pending > 0) ps.executeBatch()
          case (None, Some((updSql, updOrder, insSql, insOrder))) =>
            val upd = conn.prepareStatement(updSql)
            val ins = conn.prepareStatement(insSql)
            rows.foreach { row =>
              bind(upd, row, updOrder)
              if (upd.executeUpdate() == 0) {
                bind(ins, row, insOrder)
                ins.executeUpdate()
              }
            }
          case _ => ()
        }
        conn.commit()
      } catch {
        case e: Throwable =>
          // close-with-open-transaction is implementation-defined (Oracle
          // COMMITS on close) — roll back explicitly so a failed
          // partition never half-commits, then let Spark retry the task
          try conn.rollback() catch { case _: java.sql.SQLException => () }
          throw e
      } finally conn.close()
    }
  }

  def save(subName: String, df: DataFrame, path: String, conf: AdapterConf): Unit = {
    val table = conf.str("table").orElse(Option(subName).filter(_.nonEmpty)).getOrElse(
      throw new IllegalArgumentException("jdbcColumnar output needs 'table' or a stream name"))
    conf.strSeq("upsert_keys") match {
      case Some(ks) =>
        upsert(HadoopFiles.selectColumns(df, conf), path, table, conf,
          ks.map(_.trim).filter(_.nonEmpty), conf.str("upsert_dialect").get, conf.int("batch_size"))
      case None =>
        var writer = HadoopFiles.selectColumns(df, conf).write.format("jdbc")
          .option("url", path)
          .option("driver", conf.str("driver").get)
          .option("dbtable", table)
          // reference default batch size 500 (JdbcColumnarOutput.java:49-50)
          .option("batchsize", conf.int("batch_size"))
          .mode(conf.str("mode").get)
        conf.str("user").foreach(u => writer = writer.option("user", u))
        conf.str("password").foreach(p => writer = writer.option("password", p))
        writer.save()
    }
  }
}

object JdbcColumnarOutput {

  /** A column type's `java.sql.Types` code for typed NULL binding
    * (setNull, mirroring Spark's JdbcUtils — untyped setObject(_, null)
    * is optional in the JDBC spec and rejected by several real targets),
    * and its SQL type for a CAST around a `?` marker inside MERGE ..
    * USING (VALUES ..) — Derby and DB2 reject untyped markers there. */
  private[adapters] def jdbcType(dt: org.apache.spark.sql.types.DataType): (Int, String) = {
    import java.sql.Types._
    import org.apache.spark.sql.types._
    dt match {
      case LongType => (BIGINT, "BIGINT")
      case IntegerType => (INTEGER, "INTEGER")
      case ShortType => (SMALLINT, "SMALLINT")
      case DoubleType => (DOUBLE, "DOUBLE")
      case FloatType => (REAL, "REAL")
      case BooleanType => (BOOLEAN, "BOOLEAN")
      case DateType => (DATE, "DATE")
      case TimestampType => (TIMESTAMP, "TIMESTAMP")
      case d: DecimalType => (DECIMAL, s"DECIMAL(${d.precision},${d.scale})")
      // 4000 fits every merge target's plain-varchar ceiling (SQL
      // Server caps at 8000; 32672 is a Derby-ism, and Derby takes the
      // update_insert path, never this cast)
      case BinaryType => (BLOB, "VARCHAR(4000)")
      case _ => (VARCHAR, "VARCHAR(4000)")
    }
  }

  /** Per-dialect single-row UPSERT statement with `?` markers in schema
    * field order, for the `merge`, `on_conflict` and `duplicate_key`
    * dialects. Quoting follows what Spark's JDBC writer did when it
    * created the table: the TABLE name passes through verbatim (Spark
    * uses the dbtable string as given), while COLUMN names are quoted
    * (double quotes; backticks for the MySQL dialect) because
    * JdbcUtils quotes every column identifier on CREATE. */
  private[graft] def upsertSql(
      table: String,
      schema: org.apache.spark.sql.types.StructType,
      keys: Seq[String],
      dialect: String): String = {
    val quote = if (dialect == "duplicate_key") "`" else "\""
    def q(c: String) = quote + c + quote
    val cols = schema.fields.map(_.name).toSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"upsert_keys $keys must be columns of $cols")
    val nonKeys = cols.filterNot(keys.contains)
    val colList = cols.map(q).mkString(", ")
    dialect match {
      case "merge" =>
        val values = schema.fields
          .map(f => s"CAST(? AS ${jdbcType(f.dataType)._2})").mkString(", ")
        val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
        val matched =
          if (nonKeys.isEmpty) ""
          else "WHEN MATCHED THEN UPDATE SET " +
            nonKeys.map(c => s"${q(c)} = s.${q(c)}").mkString(", ") + " "
        // the trailing semicolon is MANDATORY for SQL Server's MERGE
        // (error 10713 without it) and harmless on H2/DB2
        s"""MERGE INTO $table t USING (VALUES ($values)) s($colList) ON $on """ +
          matched +
          s"WHEN NOT MATCHED THEN INSERT ($colList) VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")});"
      case "on_conflict" =>
        val conflictAction =
          if (nonKeys.isEmpty) "DO NOTHING"
          else "DO UPDATE SET " + nonKeys.map(c => s"${q(c)} = excluded.${q(c)}").mkString(", ")
        s"INSERT INTO $table ($colList) VALUES (${cols.map(_ => "?").mkString(", ")}) " +
          s"ON CONFLICT (${keys.map(q).mkString(", ")}) $conflictAction"
      case "duplicate_key" =>
        val update =
          if (nonKeys.isEmpty) keys.map(c => s"${q(c)} = ${q(c)}").take(1).mkString
          else nonKeys.map(c => s"${q(c)} = VALUES(${q(c)})").mkString(", ")
        s"INSERT INTO $table ($colList) VALUES (${cols.map(_ => "?").mkString(", ")}) " +
          s"ON DUPLICATE KEY UPDATE $update"
    }
  }

  /** Portable UPDATE-then-INSERT pair with per-statement bind orders
    * (schema field indices in marker order). All-key rows degrade the
    * UPDATE to a no-op existence probe (`SET k = k`) whose row count
    * still decides the INSERT. Column quoting follows the TARGET's
    * identifier style, derived from the JDBC url: MySQL/MariaDB default
    * sql_mode treats double quotes as string literals, so those get
    * backticks; everything else the ANSI double quote. */
  private[graft] def updateInsertSql(
      table: String,
      schema: org.apache.spark.sql.types.StructType,
      keys: Seq[String],
      url: String = ""): (String, Seq[Int], String, Seq[Int]) = {
    val quote =
      if (url.startsWith("jdbc:mysql") || url.startsWith("jdbc:mariadb")) "`" else "\""
    def q(c: String) = quote + c + quote
    val cols = schema.fields.map(_.name).toSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"upsert_keys $keys must be columns of $cols")
    val nonKeys = cols.filterNot(keys.contains)
    val set =
      if (nonKeys.isEmpty) s"${q(keys.head)} = ${q(keys.head)}"
      else nonKeys.map(c => s"${q(c)} = ?").mkString(", ")
    val where = keys.map(k => s"${q(k)} = ?").mkString(" AND ")
    val updOrder = nonKeys.map(cols.indexOf) ++ keys.map(cols.indexOf)
    val insSql = s"INSERT INTO $table (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    (s"UPDATE $table SET $set WHERE $where", updOrder, insSql, cols.indices)
  }
}
