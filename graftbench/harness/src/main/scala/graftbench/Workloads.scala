package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{DistConfig, DistTask}
import graft.runner.DistMain

/** One timed operation. `kind` is `task.batch`, `task.verify`,
  * `task.stream`, `task.export` (a DistMain task), `query` or `check`.
  * `run` gets a callback that marks the start of the timed action when
  * the harness itself knows it (queries); writes are found by the tracer. */
final case class Op(name: String, kind: String, direction: String, run: (() => Unit) => Unit)

/** What a workload needs from the JVM that runs it. */
final class Ctx(
    val spark: SparkSession,
    val root: Path, // the checkout
    val data: String, // the fixed table directory
    val ws: Path, // this run's workspace
    val seed: Long,
    val tiny: Boolean,
    val corrupt: Boolean,
    val expected: Map[String, Any],
    val tableRows: Map[String, Long]) {
  var parseMs = 0.0

  def expect(key: String, got: Any): Unit = expected.get(key) match {
    case Some(want) if want.toString == got.toString =>
    case Some(want) => throw new IllegalStateException(s"check $key: expected $want, got $got")
    case None => throw new IllegalStateException(s"check $key: no recorded value")
  }

  /** Rows and file bytes of fixed tables the workload reads. */
  def tablesRows(tables: Seq[String]): Long = tables.map(tableRows).sum
  def tablesBytes(tables: Seq[String]): Long =
    tables.map(t => Files.size(Path.of(data, s"$t.parquet"))).sum

  def parse(json: String): DistConfig = {
    val t0 = System.nanoTime()
    val c = DistConfig.parse(json)
    parseMs += (System.nanoTime() - t0) / 1e6
    c
  }
}

trait Workload {
  /** Untimed: make the inputs (only the seeded workload has any). */
  def generate(): Unit = ()
  /** Untimed: clear the previous pass's outputs. */
  def reset(): Unit
  def ops(): Seq[Op]
  def inRows: Long
  def inBytes: Long
  def outBytes: Long
}

object Workloads {
  def apply(name: String, c: Ctx): Workload = name match {
    case "copy" => new Copy(c)
    case "curate" => new Example(c, "curation_pipeline.json", Seq("curate", "audit"), Seq("documents"))
    case "ingest" => new Example(c, "streaming_ingest.json", Seq("prepare", "export", "ingest"),
      Seq("documents", "embeddings"))
    case "queries" => new Queries(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)

  /** Bytes of the data files under `p`: Spark's checkpoints, metadata
    * logs, checksums and markers are not output. */
  def dataBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f))
      .filterNot(f => p.relativize(f).iterator().asScala.exists { part =>
        val s = part.toString
        s.startsWith("_") || s.startsWith(".")
      })
      .map(Files.size).sum

  def taskKind(t: DistTask): String =
    if (t.verify) "task.verify" else if (t.modelExport) "task.export"
    else if (t.streaming) "task.stream" else "task.batch"

  /** One op per DistMain task, each run through the public entry point. */
  def taskOps(c: Ctx, conf: DistConfig, directions: Seq[String]): Seq[Op] =
    directions.flatMap { d =>
      conf.direction(d).zipWithIndex.map { case (t, i) =>
        Op(s"$d/$i:${t.source.adapter}->${t.dest.adapter}", taskKind(t), d,
          _ => DistMain.runDirection(c.spark, Seq(t), d))
      }
    }

  /** Order-free fingerprint of every column: rows, xor and exact sum of a
    * per-row xxhash64, plus the UTF-8 bytes of that serialization (what the
    * result would take as text). */
  def fingerprint(df: DataFrame): (String, Long) = {
    val serial = concat_ws("\u0001",
      df.columns.toSeq.map(n => coalesce(col(s"`$n`").cast("string"), lit("\u0000"))): _*)
    val r = df.select(serial.as("s")).select(xxhash64(col("s")).as("fp"), octet_length(col("s")).as("n"))
      .agg(count(lit(1)), expr("bit_xor(fp)"), sum(col("fp").cast("decimal(38,0)")),
        sum(col("n")))
      .head()
    (s"${r.get(0)}:${r.get(1)}:${r.get(2)}", if (r.isNullAt(3)) 0L else r.getLong(3))
  }
}

import Workloads._

/** The reference's own job: a seeded lineitem-like and orders-like table
  * copied between formats and through JDBC, then verified, plus an
  * incremental direction: a streaming URL-claim pass over a seeded crawl
  * log and a one-family model export from the fixed documents table. */
final class Copy(c: Ctx) extends Workload {
  private val scale = if (c.tiny) 0.02 else 1.0
  val nL: Long = (60000 * scale).toLong
  val nO: Long = (20000 * scale).toLong
  val nC: Long = (10000 * scale).toLong
  val nU: Long = nC * 3 / 5
  private val in = c.ws.resolve("copy/in")
  private val out = c.ws.resolve("copy/out")
  private val jdbc = "jdbc:derby:memory:graftbench;create=true"
  private val driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
  private val s = c.seed

  private def h(k: Int) = s"xxhash64(id, ${s}L, $k)"

  override def generate(): Unit = {
    val spark = c.spark
    spark.range(0, nL, 1, 4).selectExpr(
      "id div 4 + 1 AS l_orderkey", "cast(id % 4 + 1 AS int) AS l_linenumber",
      s"pmod(${h(1)}, 20000) + 1 AS l_partkey",
      s"cast(pmod(${h(2)}, 50) + 1 AS decimal(12,2)) AS l_quantity",
      s"cast(pmod(${h(3)}, 10000000) / 100 AS decimal(12,2)) AS l_extendedprice",
      s"cast(pmod(${h(4)}, 11) / 100 AS decimal(12,2)) AS l_discount",
      s"date_add(date'1992-01-01', cast(pmod(${h(5)}, 2500) AS int)) AS l_shipdate",
      s"element_at(array('A','N','R'), cast(pmod(${h(6)}, 3) + 1 AS int)) AS l_returnflag",
      s"element_at(array('AIR','MAIL','RAIL','SHIP','TRUCK','FOB','REG AIR'), cast(pmod(${h(7)}, 7) + 1 AS int)) AS l_shipmode",
      s"substring(sha2(cast(${h(8)} AS string), 256), 1, cast(10 + pmod(${h(9)}, 30) AS int)) AS l_comment")
      .write.parquet(in.resolve("lineitem").toString)
    // headerless TSV; columns 7 and 8 are skipped on read ('_')
    spark.range(0, nO, 1, 4).selectExpr(
      "cast(id + 1 AS string)", s"cast(pmod(${h(11)}, 15000) + 1 AS string)",
      s"element_at(array('F','O','P'), cast(pmod(${h(12)}, 3) + 1 AS int))",
      s"cast(cast(pmod(${h(13)}, 50000000) / 100 AS decimal(12,2)) AS string)",
      s"cast(date_add(date'1992-01-01', cast(pmod(${h(14)}, 2400) AS int)) AS string)",
      s"element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), cast(pmod(${h(15)}, 5) + 1 AS int))",
      s"format_string('Clerk#%09d', pmod(${h(16)}, 1000))", "'0'",
      s"substring(sha2(cast(${h(17)} AS string), 256), 1, cast(20 + pmod(${h(18)}, 40) AS int))")
      .write.option("sep", "\t").csv(in.resolve("orders").toString)
    // every url index below nU appears at least once, so nU urls survive dedup
    spark.range(0, nC, 1, 4)
      .selectExpr("id AS doc_id", s"if(id < $nU, id, pmod(${h(19)}, $nU)) AS u")
      .selectExpr("doc_id",
        "concat('https://site', cast(u % 97 AS string), '.example.com/p/', cast(u AS string), '.html') AS url")
      .write.parquet(in.resolve("crawl").toString)
  }

  def reset(): Unit = rmrf(out)

  private val orderSchema = """["o_orderkey","o_custkey","o_orderstatus","o_totalprice","o_orderdate","o_orderpriority","_","_","o_comment"]"""
  private val orderCols = """["o_orderdate","o_orderkey","o_custkey","o_totalprice","o_orderpriority","o_comment","o_orderstatus"]"""
  private def ordersTsv = s"""{"adapter": "hadoopColumnar", "path": "file:$in/orders", "part_count": 4,
      "params": {"schema_default": $orderSchema, "columns": $orderCols}}"""
  private def jdbcParams = s""""driver": "$driver", "table": "orders""""

  def config: String = s"""{
  "copy": [
    {"source": {"adapter": "hadoopParquet", "path": "file:$in/lineitem"},
     "dest": {"adapter": "hadoopColumnar", "path": "file:$out/lineitem_tsv",
              "params": {"codec": "gzip", "header": true}}},
    {"source": $ordersTsv,
     "transform": "SELECT cast(o_orderkey AS bigint) AS o_orderkey, cast(o_custkey AS bigint) AS o_custkey, cast(o_totalprice AS decimal(12,2)) AS o_totalprice, cast(o_orderdate AS date) AS o_orderdate, o_orderpriority, o_comment, o_orderstatus FROM _input",
     "dest": {"adapter": "hadoopParquet", "path": "file:$out/orders",
              "params": {"partition_by": ["o_orderstatus"]}}},
    {"source": {"adapter": "hadoopParquet", "path": "file:$out/orders"},
     "dest": {"adapter": "jdbcColumnar", "path": "$jdbc",
              "params": {$jdbcParams, "mode": "overwrite", "batch_size": 1000}}},
    {"source": {"adapter": "jdbcColumnar", "path": "$jdbc", "part_count": 4,
                "params": {$jdbcParams, "partition_column": "o_orderkey",
                           "lower_bound": 1, "upper_bound": $nO}},
     "dest": {"adapter": "hadoopParquet", "path": "file:$out/orders_jdbc"}},
    {"verify": true,
     "source": {"adapter": "hadoopParquet", "path": "file:$in/lineitem"},
     "dest": {"adapter": "hadoopColumnar", "path": "file:$out/lineitem_tsv"}},
    {"verify": true,
     "source": {"adapter": "hadoopParquet", "path": "file:$out/orders"},
     "dest": {"adapter": "hadoopParquet", "path": "file:$out/orders_jdbc"}}
  ],
  "incremental": [
    {"streaming": true, "ingest": "url_dedup_claim", "model_dir": "file:$in",
     "source": {"adapter": "hadoopParquet", "path": "file:$in/crawl"},
     "dest": {"adapter": "hadoopParquet", "path": "file:$out/url_claims"}},
    {"model_export": true, "model_families": ["classifier"],
     "source": {"adapter": "hadoopParquet", "path": "${c.data}"},
     "dest": {"adapter": "hadoopParquet", "path": "file:$out/models"}}
  ]
}"""

  def ops(): Seq[Op] = {
    val tasks = taskOps(c, c.parse(config), Seq("copy", "incremental"))
    // negative control: lose one part file of the first copy's output
    val corrupted = if (!c.corrupt) tasks else tasks.head.copy(run = mark => {
      tasks.head.run(mark)
      val dir = out.resolve("lineitem_tsv")
      Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.toString).headOption.foreach(Files.delete)
    }) +: tasks.tail
    corrupted :+ Op("check", "check", "check", _ => {
      val sp = c.spark
      def rows(p: String, want: Long): Unit = {
        val got = sp.read.option("header", "true").option("sep", "\t")
          .format(if (p == "lineitem_tsv") "csv" else "parquet").load(out.resolve(p).toString).count()
        if (got != want) throw new IllegalStateException(s"check $p: $got rows, generated $want")
      }
      rows("lineitem_tsv", nL)
      rows("orders", nO)
      rows("orders_jdbc", nO)
      // the claim ledger: one claim per crawled doc, one keeper per distinct url
      val ledger = graft.streaming.Streams.claimView(sp, out.resolve("url_claims").toString)
      val (claims, keepers) = (ledger.count(), ledger.select("keeper_id").distinct().count())
      if (claims != nC || keepers != nU)
        throw new IllegalStateException(s"check url_claims: $claims claims, $keepers keepers; " +
          s"generated $nC docs over $nU urls")
      c.expect("rows.models/classifier", sp.read.parquet(out.resolve("models/classifier").toString).count())
    })
  }

  private val tables = Seq("documents") // the model export's corpus
  def inRows: Long = nL + nO + nC + c.tablesRows(tables)
  def inBytes: Long = dataBytes(in) + c.tablesBytes(tables)
  def outBytes: Long = dataBytes(out)
}

/** A worked config from `examples/`, run direction by direction against
  * the fixed tables; the check compares every output's row count with
  * the count recorded for this data. `tables` are the fixed tables it
  * reads. */
final class Example(c: Ctx, file: String, directions: Seq[String], tables: Seq[String])
    extends Workload {
  private val out = c.ws.resolve(file.stripSuffix(".json"))

  def reset(): Unit = rmrf(out)

  def ops(): Seq[Op] = {
    val text = new String(Files.readAllBytes(c.root.resolve("examples").resolve(file)), "UTF-8")
      .replace("{SF_DIR}", c.data).replace("{OUT}", out.toString)
    val conf = c.parse(text)
    // every output but the model artifact directory, which holds many tables
    val outputs = directions.flatMap(conf.direction).filterNot(t => t.verify || t.modelExport)
      .map(_.dest).distinctBy(_.path)
    taskOps(c, conf, directions) :+ Op("check", "check", "check", _ =>
      outputs.foreach { d =>
        val p = d.path.stripPrefix("file:")
        val n =
          if (d.adapter == "hadoopColumnar") c.spark.read.option("header", "true")
            .option("sep", d.params.getOrElse("delimiter", "\t").toString).csv(p).count()
          else c.spark.read.parquet(p).count()
        c.expect(s"rows.${Path.of(p).getFileName}", n)
      })
  }

  def inRows: Long = c.tablesRows(tables)
  def inBytes: Long = c.tablesBytes(tables)
  def outBytes: Long = dataBytes(out)
}

/** A stratified slice of the query registry, fingerprinted. */
final class Queries(c: Ctx) extends Workload {
  private val names = if (c.tiny) Queries.names.take(4) else Queries.names
  private var resultBytes = 0L

  def reset(): Unit = resultBytes = 0L

  def ops(): Seq[Op] = names.map { q =>
    Op(q, "query", "queries", markExec => {
      val df = graft.SparkEntry.queries(q)(c.spark, c.data)
      markExec()
      val (fp, bytes) = fingerprint(df)
      resultBytes += bytes
      graft.io.CacheScope.releaseAll()
      c.spark.catalog.clearCache()
      c.expect(s"fp.$q", fp)
    })
  }

  def inRows: Long = c.tablesRows(Queries.tables)
  def inBytes: Long = c.tablesBytes(Queries.tables)
  def outBytes: Long = resultBytes
}

object Queries {
  /** Stratified over the registry's modules; the five queries `curate`
    * runs are left out. */
  val names: Seq[String] = Seq(
    "q_filter_pushdown", "q_tpch_q3", "q_tpch_q17", // Relational / TpchShapes
    "q_asof_join", "q_retention_cohorts", // Events, including the AsOfJoin plan
    "q_ann_ivf", "q_ann_lsh", // Similarity
    "q_dedup_minhash_lsh", "q_dedup_simhash", // Dedup
    "q_tfidf", "q_decontaminate", // TextAnalysis
    "q_media_frames", "q_media_dedup", // Multimodal
    "q_dsir_select", "q_url_dedup") // Curation / Url

  /** The fixed tables those queries read. */
  val tables: Seq[String] =
    Seq("customer", "documents", "embeddings", "events", "lineitem", "orders", "part")
}
