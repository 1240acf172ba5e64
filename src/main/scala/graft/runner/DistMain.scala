package graft.runner

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.adapters.{Adapter, AdapterConf, Adapters, SelfDescribingFormat}
import graft.config.{DistConfig, DistLocation, DistTask}
import graft.io.Sessions

/** Config-driven copy/ETL runner — the reference's single entry point
  * (datacooker-dist-cli/.../Main.java:33-162) re-expressed Spark-first:
  * per task, `spark.read` → optional select/repartition → `df.write`;
  * Catalyst supplies analyze/optimize/physical stages in between.
  *
  * CLI parity: `-c config -d direction -l [-L cores] [-m driverMem] [-u]`
  * (Configuration.java:29-36). The config file itself may live on any
  * Hadoop FS (reference fetches it through Spark, Main.java:71-83).
  */
object DistMain {

  private val usage =
    """Usage: DistMain -c <config.json> [-d <direction>] [-l] [-L <cores>]
      |                [-m <driverMem>] [-t <tmpDir>] [-u]
      |  -c  config file path (any Hadoop FS scheme)
      |  -d  direction to run (optional when the config has exactly one)
      |  -l  local mode; -L sets local core count; -m driver memory; -u Spark UI
      |  -t  scratch directory (spark.local.dir; reference 'tmp' param —
      |      our adapters stream through the FS and need no scratch copies)
      |  -h  this help""".stripMargin

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    if (opts.contains("h")) { println(usage); return }
    opts.get("t").foreach(t => System.setProperty("spark.local.dir", t))
    val local = opts.contains("l")
    val spark =
      if (local) {
        // -m driver memory only takes effect if the JVM was launched with
        // enough heap (local mode = driver-only); recorded on the conf so
        // spark-submit wrappers pick it up. -u re-enables the UI.
        opts.get("m").foreach(m => System.setProperty("spark.driver.memory", m))
        if (opts.contains("u")) System.setProperty("spark.ui.enabled", "true")
        Sessions.local("graft-dist", opts.getOrElse("L", Sessions.defaultCpus))
      } else SparkSession.builder().appName("graft-dist").getOrCreate()
    try run(opts, spark)
    finally Sessions.stop(spark)
  }

  /** The CLI body minus session lifecycle — config fetch (through the
    * Hadoop FS of the path's scheme), direction resolution, execution.
    * Separated so DistPipelineSpec can drive the full CLI path on the
    * shared test session (main owns stop()). */
  def run(opts: Map[String, String], spark: SparkSession): Unit = {
    val configPath = opts.getOrElse("c",
      throw new IllegalArgumentException("-c <config.json> is required"))
    val config = DistConfig.parse(readFile(spark, configPath))
    val direction = opts.get("d") match {
      case Some(d) => d
      case None if config.directions.size == 1 => config.directions.keys.head
      case None => throw new IllegalArgumentException(
        s"-d <direction> required; configured: ${config.directions.keys.mkString(", ")}")
    }
    runDirection(spark, config.direction(direction), direction)
  }

  /** Run one direction: ordered tasks, each load → save, with the
    * reference's sub-name routing (Main.java:139-146): for each stream of
    * a multi-stream load, the part after the source name becomes the
    * destination subdirectory, optionally prefixed by dest.name. */
  def runDirection(spark: SparkSession, tasks: Seq[DistTask], direction: String): Unit =
    tasks.zipWithIndex.foreach { case (task, i) =>
      task.kind match {
        case "verify" => runVerifyTask(spark, task, direction, i)
        case "model_export" => runModelExportTask(spark, task)
        case "streaming" => runStreamingTask(spark, task)
        case _ => runBatchTask(spark, task, direction, i)
      }
    }

  /** `"model_export": true` task — train the requested model families
    * from the `source` corpus and persist each as a bounded parquet
    * artifact under `dest` ([[graft.io.ModelStore.exportModels]]). A re-run
    * against an unchanged corpus exports nothing (manifest-complete =
    * no-op), so a direction can lead with its export task and stay
    * idempotent. */
  private def runModelExportTask(spark: SparkSession, task: DistTask): Unit = {
    val fams =
      if (task.modelFamilies.nonEmpty) task.modelFamilies
      else graft.io.ModelStore.Families
    val wrote = graft.io.ModelStore.exportModels(spark, task.source.path, task.dest.path, fams)
    println(s"[dist] model_export -> ${task.dest.path}: " +
      (if (wrote.isEmpty) s"up to date (${fams.mkString(", ")})"
       else s"exported ${wrote.mkString(", ")}"))
  }

  /** `"verify": true` task — post-copy integrity check (the distcp
    * `-diff` of this tool): load BOTH locations through their adapters,
    * fingerprint each with ORDER-FREE folds over a per-row hash
    * (count + xor + exact decimal sum + min + max — layout, partition
    * count, and row order cannot affect it; a duplicated-row/dropped-row
    * pair that fools xor alone still moves the sum), and fail the
    * direction on mismatch. Both sides are Spark, so the canonical
    * serialization uses plain string casts and codegen'd xxhash64 — no
    * cross-engine caveats, one scan per side, five scalars of output.
    * Columns: `verify_columns` if given, else every column the two
    * sides share, in source-schema order. */
  private def runVerifyTask(
      spark: SparkSession, task: DistTask, direction: String, i: Int): Unit = {
    import org.apache.spark.sql.functions._
    def loadOne(loc: DistLocation, role: String): DataFrame = {
      val streams = load(spark, loc, direction, i)._2
      require(streams.size == 1,
        s"verify task: $role produced ${streams.size} streams; point it at one")
      streams.head._2
    }
    val src = loadOne(task.source, "source")
    val dst = loadOne(task.dest, "dest")
    val cols =
      if (task.verifyColumns.nonEmpty) task.verifyColumns
      else src.columns.filter(dst.columns.contains(_)).toSeq
    require(cols.nonEmpty, "verify task: no common columns to fingerprint")
    cols.foreach { c =>
      require(src.columns.contains(c) && dst.columns.contains(c),
        s"verify task: column '$c' missing (source: ${src.columns.mkString(",")}; " +
          s"dest: ${dst.columns.mkString(",")})")
    }
    def fingerprint(df: DataFrame): (Long, Long, String, Long, Long) = {
      // control-char separator + NULL sentinel: unambiguous for any
      // data whose cells avoid raw U+0001 / U+0000 bytes
      val serial = concat_ws("\u0001",
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
      val r = df.select(xxhash64(serial).as("fp"))
        .agg(
          count(lit(1)).as("n"), expr("bit_xor(fp)").as("x"),
          sum(col("fp").cast("decimal(38,0)")).as("s"),
          min(col("fp")).as("mn"), max(col("fp")).as("mx"))
        .head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        Option(r.get(2)).map(_.toString).getOrElse("0"),
        if (r.isNullAt(3)) 0L else r.getLong(3),
        if (r.isNullAt(4)) 0L else r.getLong(4))
    }
    val (fs, fd) = (fingerprint(src), fingerprint(dst))
    if (fs != fd)
      throw new IllegalStateException(
        s"verify task: checksum MISMATCH over columns [${cols.mkString(", ")}]\n" +
          s"  source ${task.source.path}: rows=${fs._1} xor=${fs._2} sum=${fs._3}\n" +
          s"  dest   ${task.dest.path}: rows=${fd._1} xor=${fd._2} sum=${fd._3}")
    println(s"[dist] verify OK: ${task.source.path} == ${task.dest.path} " +
      s"(rows=${fs._1}, ${cols.size} columns)")
  }

  /** Load one task location through its input adapter. Streams are
    * named under the location's `name`, by default `direction#i`;
    * returns that source name with the streams. */
  private def load(spark: SparkSession, loc: DistLocation, direction: String, i: Int)
      : (String, ListMap[String, DataFrame]) = {
    val a = Adapters.input(loc.adapter)
    val name = loc.subName.getOrElse(s"$direction#$i")
    name -> a.load(spark, loc.path, name, loc.partCount, AdapterConf(a.meta, loc.params))
  }

  private def runBatchTask(
      spark: SparkSession, task: DistTask, direction: String, i: Int): Unit = {
    val (sourceName, streams) = load(spark, task.source, direction, i)
    val oa = Adapters.output(task.dest.adapter)
    val outConf = AdapterConf(oa.meta, task.dest.params)
    streams.foreach { case (streamName, df0) =>
      var sub = streamName.stripPrefix(sourceName).stripPrefix("/")
      task.dest.subName.foreach { dn =>
        sub = if (sub.isEmpty) dn else s"$dn/$sub"
      }
      // optional in-pipeline SQL transform: the stream is bound as the
      // `_input` view; the engine's native functions (dot_f, shingles,
      // dec_cast, simhash_agg, ...) are available in the statement
      val df = task.transform match {
        case Some(sql) =>
          graft.functions.GraftRuntime.ensure(spark)
          df0.createOrReplaceTempView("_input")
          spark.sql(sql)
        case None => df0
      }
      oa.save(sub, df, task.dest.path, outConf)
    }
    // a transform may call into library code that caches via CacheScope
    // (and this session is long-lived): release per task, so no cached
    // partitions survive the task that created them
    graft.io.CacheScope.releaseAll()
  }

  /** `"streaming": true` task: incremental catch-up copy. The source
    * directory is read as a file stream (schema from a batch peek), the
    * optional `transform` is applied per micro-batch through the same
    * `_input` view, and the sink runs `Trigger.AvailableNow` with a
    * checkpoint under `<dest>/_checkpoint` — re-running the direction
    * processes ONLY files added since the last run (exactly-once
    * incremental backfill; stateless or windowed-append transforms).
    * Self-describing file formats only: `DistConfig.parse` admits only the
    * registry's [[graft.adapters.SelfDescribingFormat]] verbs here. */
  private def runStreamingTask(spark: SparkSession, task: DistTask): Unit = {
    def fmt(a: Adapter): String = a.asInstanceOf[SelfDescribingFormat].format
    val (inFmt, outFmt) =
      (fmt(Adapters.input(task.source.adapter)), fmt(Adapters.output(task.dest.adapter)))
    val schema = spark.read.format(inFmt).load(task.source.path).schema
    val stream = spark.readStream.format(inFmt).schema(schema).load(task.source.path)
    val transformed = task.transform match {
      case Some(sql) =>
        graft.functions.GraftRuntime.ensure(spark)
        stream.createOrReplaceTempView("_input")
        spark.sql(sql)
      case None => stream
    }
    // optional registered ingest operator (graft.streaming.Ingest):
    // the config-driven entry to the streaming ingest tier — a
    // direction chains score → dedup_claim → gate_contaminated →
    // encode_ivfadc through directories, each stage incrementally
    // checkpointed. Models train from `model_dir` (offline corpus).
    val df = task.ingest match {
      case Some(op) =>
        graft.streaming.Ingest(spark, op, task.modelDir.get, transformed, task.horizonMs,
          task.lateness)
      case None => transformed
    }
    // claim-op stages persist their LEDGER through the batch_id-
    // partitioned idempotent claim sink (round 18): per-batch folded
    // deliveries, replay-safe, and compactable via
    // [[graft.streaming.Streams.compactClaims]] — a long-running
    // direction's ledger no longer grows without bound. apply_claims
    // reads either layout through claimView; `DistConfig.parse` requires
    // these tasks' dest to be hadoopParquet.
    if (task.ingest.exists(graft.streaming.Ingest.claimOps.contains)) {
      def startLedger() = df.writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.Streams.upsertClaimBatch(batch, id, task.dest.path))
        .option("checkpointLocation", s"${task.dest.path}/_checkpoint")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // the horizoned media pipeline re-declares its watermark between
      // two stateful stages (safety proof in mediaDedupHorizon's
      // scaladoc); the analyzer override is scoped to this one start
      val query =
        if (task.ingest.contains("media_dedup") && task.horizonMs.isDefined)
          graft.streaming.Streams.relaxedStatefulCheck(spark)(startLedger())
        else startLedger()
      query.awaitTermination()
    } else {
      df.writeStream
        .format(outFmt)
        .option("path", task.dest.path)
        .option("checkpointLocation", s"${task.dest.path}/_checkpoint")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
        .awaitTermination()
    }
  }

  /** Read a (possibly remote) config file through the Hadoop FS API. */
  def readFile(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Minimal getopt: flags l/u take no value; c/d/t/m/L take one. */
  def parseArgs(args: Array[String]): Map[String, String] = {
    val flags = Set("l", "u", "h")
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i).dropWhile(_ == '-')
      if (flags.contains(a)) { out += a -> "true"; i += 1 }
      else if (i + 1 < args.length) { out += a -> args(i + 1); i += 2 }
      else throw new IllegalArgumentException(s"Option -$a needs a value")
    }
    out.result()
  }
}
