package graft.adapters

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Hadoop-FS file adapters (work on file://, hdfs://, s3a://). The
  * reference's hand-rolled S3 listing/parsing/multipart code collapses
  * onto Spark's CSV/text/Parquet sources + the committer; the semantics
  * preserved here are the reference's *capabilities*:
  *
  *  - `schema_from_file` per-file header (S3DirectColumnarInput.java:53-55)
  *  - `schema_default` flat column list where `_` skips positions
  *    (S3DirectColumnarInput.java:56-59)
  *  - `columns` subset select/reorder (S3DirectColumnarInputStream.java:44-70)
  *  - `delimiter` (default TAB, S3DirectColumnarInput.java:60-61)
  *  - `sub_dirs`: each first-level subdirectory becomes its own stream
  *    named `name/sub` (S3DirectInput.java:71-99)
  *  - `part_count` → repartition (S3DirectColumnarInput.java:96-98)
  *  - output `codec` compression (S3DirectTextOutput.java:36-37)
  */
private[adapters] object HadoopFiles {

  // Params the file verbs share, declared once; each verb lists the ones
  // it takes, in its own order.
  val columnsParam: ParamDef = ParamDef.list("columns", "Columns to select (subset, any order)")
  val subDirsParam: ParamDef = ParamDef(
    "sub_dirs", "Each first-level subdirectory becomes its own stream", Some(false))
  val recursiveParam: ParamDef = ParamDef(
    "recursive",
    "Recurse into nested directories (the reference's S3 prefix listing is recursive)",
    Some(false))
  val partitioningParam: ParamDef = ParamDef.oneOf(
    "partitioning",
    "Row partitioning with part_count: hashcode (co-locate equal rows) or random",
    "hashcode", "random")
  val mergeSchemaParam: ParamDef = ParamDef(
    "merge_schema",
    "Union the schemas of all files (schema evolution; columns absent in a file read as null)",
    Some(false))
  val writeColumnsParam: ParamDef = ParamDef.list("columns", "Columns to write; '_' skips a column")
  def codecParam(default: String): ParamDef =
    ParamDef("codec", "Compression codec", Some(default))

  /** First-level "subdirectories" under a path, for sub_dirs loads. */
  def subDirs(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** sub_dirs-aware load: one stream per first-level subdir, else one
    * stream under the task name. Each stream gets the `columns` select,
    * then the `partitioning`; the select comes first because `hashcode`
    * hashes the selected columns. */
  def loadStreams(
      spark: SparkSession,
      path: String,
      name: String,
      partCount: Int,
      conf: AdapterConf)(read: String => DataFrame): ListMap[String, DataFrame] = {
    def load(p: String): DataFrame = {
      val df = read(p)
      partition(conf.strSeq("columns").fold(df)(cols => df.select(cols.map(col): _*)),
        partCount, conf)
    }
    if (conf.bool("sub_dirs")) {
      val subs = subDirs(spark, path)
      ListMap(subs.map(s => s"$name/$s" -> load(s"$path/$s")): _*)
    } else ListMap(name -> load(path))
  }

  /** `part_count` repartitioning under `partitioning`, which mirrors the
    * reference's record-keying modes (SURVEY §1.4,
    * Partitioning.HASHCODE/RANDOM): `hashcode` hash-partitions rows on
    * all columns (equal rows co-locate, distribution-equivalent to keying
    * every record by hashCode), `random` round-robins. */
  def partition(df: DataFrame, partCount: Int, conf: AdapterConf): DataFrame =
    if (partCount <= 0) df
    else if (conf.str("partitioning").contains("random")) df.repartition(partCount)
    else df.repartition(partCount, hash(df.columns.map(col).toIndexedSeq: _*))

  /** Shared `path_filter` param: a name glob over the objects under the
    * path. This is also the supported recipe for a prefix mixing
    * formats (the reference's columnar input sniffs `.parquet` objects
    * per-extension, S3DirectColumnarInputFunction.java:60-76): one task
    * per format over the same path, each filtered to its suffix. */
  val pathFilterParam: ParamDef = ParamDef(
    "path_filter",
    "Glob over file names; only matching objects are read (e.g. '*.parquet' — " +
      "serve a mixed-format prefix with one task per format)")

  /** The reader every file input starts from: `recursive` and
    * `path_filter` applied (Spark's pathGlobFilter matches the file NAME,
    * like the reference's per-object suffix check). */
  def reader(spark: SparkSession, conf: AdapterConf): DataFrameReader = {
    val r = spark.read.option("recursiveFileLookup", conf.bool("recursive"))
    conf.str("path_filter").fold(r)(g => r.option("pathGlobFilter", g))
  }

  /** Resolve an output `columns` list against the frame: `_` entries skip
    * the column (JdbcColumnarOutput.java:100-118 semantics). */
  def selectColumns(df: DataFrame, conf: AdapterConf): DataFrame =
    conf.strSeq("columns").fold(df)(cols => df.select(cols.filterNot(_ == "_").map(col): _*))

  /** Shared file-output params — the knobs a 100 TB write needs:
    * hive-style `partition_by` directories (downstream partition
    * pruning), `sort_by` within partitions (run-length/dictionary
    * friendliness + min-max row-group pruning), and
    * `max_records_per_file` (bounds file size irrespective of task
    * count). */
  val writeParams: Seq[ParamDef] = Seq(
    ParamDef.list("partition_by", "Hive-style partition columns (dir per value)"),
    ParamDef.list("sort_by", "Sort rows within each write task (encoding + min/max pruning)"),
    ParamDef.list("zorder_by",
      "2-8 BIGINT columns; cluster the layout on their Morton interleave " +
        "(32 bits each for two, 64/N bits each beyond) so parquet min/max " +
        "stats prune on all of them (overrides sort_by)"),
    ParamDef("zorder_partitions",
      "Explicit z-range task count for zorder_by (0 = let AQE size the ranges)",
      Some(0)),
    ParamDef("max_records_per_file", "Cap records per output file (0 = no cap)", Some(0)),
    ParamDef.oneOf("save_mode",
      "What to do when the destination exists: overwrite, append, ignore, error",
      "overwrite", "append", "ignore", "error", "errorifexists", "default"))

  /** Column-selected, optionally sorted writer with the shared params applied. */
  def writer(df: DataFrame, conf: AdapterConf): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val base = selectColumns(df, conf)
    val sorted = conf.strSeq("zorder_by") match {
      case Some(cols2to8) if cols2to8.size >= 2 && cols2to8.size <= 8 =>
        // range-partition + sort on the z-value: every output task owns a
        // compact z-range, i.e. a tile that is narrow in ALL keyed
        // columns — the layout Delta/Iceberg "OPTIMIZE ZORDER BY"
        // produces. Two columns keep the 32-bit-each zorder2 interleave;
        // more use the round-robin 64/N-bit zordern generalization.
        //
        // Each key must FIT its bit budget: the interleave keeps only the
        // low 64/N bits, so a column whose range exceeds 2^(64/N) would
        // alias (x and x + 2^(64/N) interleave identically) and its
        // min/max pruning silently collapse. One stats pass (the price
        // OPTIMIZE ZORDER also pays) observes each column's range;
        // columns already in budget pass through untouched (and the
        // layout stays byte-identical to previous releases), out-of-range
        // or negative columns are offset by their min and right-shifted
        // until the span fits — keeping the HIGH bits, which are the
        // ones range pruning lives on.
        graft.functions.GraftRuntime.ensure(df.sparkSession)
        val bits = if (cols2to8.size == 2) 32 else 64 / cols2to8.size
        val aggs = cols2to8.flatMap(c =>
          Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
        val statRow = base.agg(aggs.head, aggs.tail: _*).head()
        def stat(i: Int): (Option[Long], Option[Long]) =
          (Option(statRow.get(2 * i)).map(_.asInstanceOf[Long]),
            Option(statRow.get(2 * i + 1)).map(_.asInstanceOf[Long]))
        val keys = cols2to8.zipWithIndex.map { case (c, i) =>
          val k = col(c).cast("long")
          stat(i) match {
            case (Some(mn), Some(mx)) =>
              val span = mx - mn
              // span < 0 means the range itself overflowed a signed long
              val need = if (span < 0) 64 else 64 - java.lang.Long.numberOfLeadingZeros(span)
              val shift = math.max(0, need - bits)
              if (mn >= 0 && need <= bits) k // in budget: layout unchanged
              else shiftright(k - lit(mn), shift)
            case _ => lit(0L) // empty input: constant z, nothing to order
          }
        }
        val z =
          if (keys.size == 2) call_function("zorder2", keys: _*)
          else call_function("zordern", keys: _*)
        // order by the UNSIGNED z: key 0's top budget bit sits at
        // position 63, so a key filling its full budget flips the sign
        // and signed range-partitioning would rotate the tile order
        // (the first half of the curve sorts AFTER the second). XOR
        // with Long.MinValue is the monotone unsigned->signed map; for
        // z values that never set bit 63 it shifts everything equally,
        // leaving legacy layouts byte-identical.
        val withZ = base.withColumn(
          "__z", z.bitwiseXOR(lit(Long.MinValue)))
        val n = conf.int("zorder_partitions")
        val ranged =
          if (n > 0) withZ.repartitionByRange(n, col("__z"))
          else withZ.repartitionByRange(col("__z"))
        ranged.sortWithinPartitions(col("__z")).drop("__z")
      case Some(other) =>
        throw new IllegalArgumentException(
          s"zorder_by needs 2 to 8 columns, got $other")
      case None => conf.strSeq("sort_by").fold(base)(cs => base.sortWithinPartitions(cs.map(col): _*))
    }
    var w = sorted.write.mode(conf.str("save_mode").get)
    conf.strSeq("partition_by").foreach(cs => w = w.partitionBy(cs: _*))
    val cap = conf.int("max_records_per_file")
    if (cap > 0) w = w.option("maxRecordsPerFile", cap.toLong)
    w
  }
}

/** A file verb over a self-describing format (the schema lives in the
  * files): Spark reads and writes it by format name alone, which is what
  * a streaming task needs. */
trait SelfDescribingFormat {
  def format: String
}

final class HadoopColumnarInput extends InputAdapter {
  val meta: AdapterMeta = AdapterMeta(
    "hadoopColumnar",
    "Columnar (delimited text or CSV) files from any Hadoop FileSystem",
    Seq("file:/data/in", "hdfs:///data/in", "s3a://bucket/prefix"),
    Seq(
      ParamDef("delimiter", "Column delimiter", Some("\t")),
      ParamDef("schema_from_file", "Read schema from the file header line", Some(true)),
      ParamDef.list("schema_default", "Explicit column list; '_' skips a position"),
      HadoopFiles.columnsParam,
      HadoopFiles.subDirsParam,
      HadoopFiles.recursiveParam,
      HadoopFiles.partitioningParam,
      ParamDef("per_file_schema",
        "Read each file's own header (files may order/name columns differently; " +
          "union by name)", Some(false)),
      HadoopFiles.pathFilterParam))

  def load(
      spark: SparkSession,
      path: String,
      name: String,
      partCount: Int,
      conf: AdapterConf): ListMap[String, DataFrame] =
    HadoopFiles.loadStreams(spark, path, name, partCount, conf) { p =>
      val fromHeader = conf.bool("schema_from_file")
      val reader = HadoopFiles.reader(spark, conf)
        .option("sep", conf.str("delimiter").get)
        .option("header", fromHeader && conf.strSeq("schema_default").isEmpty)
      // Reference semantics edge case (S3DirectColumnarInputStream.java:33-42):
      // the header of EACH object is honored, so files under one prefix may
      // order (or subset) their columns differently. Spark's CSV source
      // assumes one schema per load, so this mode reads per file and
      // unions by name. Driver-side listing — same as the reference's own
      // driver listObjects — so intended for moderate file counts.
      if (fromHeader && conf.bool("per_file_schema")) {
        val fsPath = new Path(p)
        val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val glob = conf.str("path_filter").map(new org.apache.hadoop.fs.GlobFilter(_))
        val files =
          if (fs.getFileStatus(fsPath).isDirectory)
            fs.listStatus(fsPath).toSeq.filter(_.isFile)
              .filter(st => glob.forall(_.accept(st.getPath)))
              .map(_.getPath.toString).sorted
          else Seq(p)
        files.map(reader.csv(_))
          .reduce(_.unionByName(_, allowMissingColumns = true))
      } else conf.strSeq("schema_default") match {
        case Some(schema) =>
          // Positional names; '_' placeholders become unique throwaway
          // names and are dropped after the scan (Catalyst prunes them
          // out of the parse).
          val named = schema.zipWithIndex.map {
            case ("_", i) => s"__skip_$i"
            case (n, _) => n
          }
          val st = StructType(named.map(StructField(_, StringType, nullable = true)))
          reader.schema(st).csv(p)
            .drop(named.filter(_.startsWith("__skip_")): _*)
        case None =>
          // Columnar delimited text is untyped in the reference: every
          // value is a String (S3DirectColumnarInputStream.java:80-88).
          reader.option("inferSchema", "false").csv(p)
      }
    }
}

final class HadoopTextInput extends InputAdapter {
  val meta: AdapterMeta = AdapterMeta(
    "hadoopText",
    "Plain text files, one record per line",
    Seq("file:/data/in", "hdfs:///data/in", "s3a://bucket/prefix"),
    Seq(HadoopFiles.subDirsParam, HadoopFiles.recursiveParam,
      HadoopFiles.partitioningParam, HadoopFiles.pathFilterParam))

  def load(
      spark: SparkSession,
      path: String,
      name: String,
      partCount: Int,
      conf: AdapterConf): ListMap[String, DataFrame] =
    HadoopFiles.loadStreams(spark, path, name, partCount, conf)(
      HadoopFiles.reader(spark, conf).text(_))
}

/** Parquet, JSON-lines and ORC files: one input for every
  * self-describing format, which declares `merge_schema` where the
  * format can merge schemas. */
final class HadoopFileInput(
    verb: String, descr: String, val format: String, mergeSchema: Boolean)
    extends InputAdapter with SelfDescribingFormat {
  val meta: AdapterMeta = AdapterMeta(
    verb,
    descr,
    Seq("file:/data/in", "s3a://bucket/prefix"),
    Seq(HadoopFiles.columnsParam, HadoopFiles.subDirsParam, HadoopFiles.recursiveParam) ++
      Option.when(mergeSchema)(HadoopFiles.mergeSchemaParam) ++
      Seq(HadoopFiles.partitioningParam, HadoopFiles.pathFilterParam))

  def load(
      spark: SparkSession,
      path: String,
      name: String,
      partCount: Int,
      conf: AdapterConf): ListMap[String, DataFrame] =
    HadoopFiles.loadStreams(spark, path, name, partCount, conf) { p =>
      val r = HadoopFiles.reader(spark, conf)
      val merged =
        if (mergeSchema) r.option("mergeSchema", conf.bool("merge_schema"))
        else r
      merged.format(format).load(p)
    }
}

/** Parquet, JSON-lines and ORC sinks: one writer, parameterized by the
  * format and its codec default. `bucketed` declares the `bucket_by`
  * params (parquet). */
final class HadoopFileOutput(
    verb: String, descr: String, val format: String, codec: String, bucketed: Boolean = false)
    extends OutputAdapter with SelfDescribingFormat {
  val meta: AdapterMeta = AdapterMeta(
    verb,
    descr,
    Seq("file:/data/out", "s3a://bucket/prefix"),
    Seq(HadoopFiles.codecParam(codec), HadoopFiles.writeColumnsParam) ++
      (if (bucketed) HadoopFileOutput.bucketParams else Nil) ++
      HadoopFiles.writeParams)

  def save(subName: String, df: DataFrame, path: String, conf: AdapterConf): Unit = {
    val out = OutPath(path, subName)
    // bucketed layout is a catalog concept in Spark: the writer
    // records bucket spec + sort order in the metastore, and every
    // later join/agg on the bucket columns skips its exchange
    // (BucketingSpec proves the plan). Data still lands under the
    // configured path.
    val bucketing = conf.strSeq("bucket_by").map { cols =>
      cols -> conf.str("bucket_table").getOrElse(
        throw new IllegalArgumentException("bucket_by requires bucket_table"))
    }
    val w = HadoopFiles.writer(df, conf)
      .option("compression", conf.str("codec").get)
      .format(format)
    bucketing match {
      case Some((cols, table)) =>
        w.option("path", out)
          .bucketBy(conf.int("bucket_count"), cols.head, cols.tail: _*)
          .sortBy(cols.head, cols.tail: _*)
          .saveAsTable(table)
      case None => w.save(out)
    }
  }
}

private[adapters] object HadoopFileOutput {
  val bucketParams: Seq[ParamDef] = Seq(
    ParamDef.list("bucket_by",
      "Bucket columns: registers a bucketed+sorted table so equi-joins " +
        "and aggregations on these columns run exchange-free"),
    ParamDef("bucket_count", "Bucket count for bucket_by", Some(8)),
    ParamDef("bucket_table",
      "Catalog table name for bucket_by (required with bucket_by)"))
}

private[adapters] object OutPath {
  def apply(path: String, subName: String): String =
    if (subName.isEmpty) path else s"$path/$subName"
}

final class HadoopColumnarOutput extends OutputAdapter {
  val meta: AdapterMeta = AdapterMeta(
    "hadoopColumnar",
    "Delimited text (CSV) files on any Hadoop FileSystem",
    Seq("file:/data/out", "hdfs:///data/out", "s3a://bucket/prefix"),
    Seq(
      ParamDef("delimiter", "Column delimiter", Some("\t")),
      ParamDef("codec", "Compression codec (none/gzip/snappy/...)", Some("none")),
      ParamDef("header", "Write a header line", Some(false)),
      HadoopFiles.writeColumnsParam) ++ HadoopFiles.writeParams)

  def save(subName: String, df: DataFrame, path: String, conf: AdapterConf): Unit =
    HadoopFiles.writer(df, conf)
      .option("sep", conf.str("delimiter").get)
      .option("header", conf.bool("header"))
      .option("compression", conf.str("codec").get)
      .option("emptyValue", "")
      .csv(OutPath(path, subName))
}

final class HadoopTextOutput extends OutputAdapter {
  val meta: AdapterMeta = AdapterMeta(
    "hadoopText",
    "Plain text files; multi-column frames are delimiter-joined like the " +
      "reference text sink (S3DirectTextOutputFunction.java:42-75)",
    Seq("file:/data/out", "s3a://bucket/prefix"),
    Seq(
      ParamDef("delimiter", "Join delimiter for multi-column frames", Some("\t")),
      HadoopFiles.codecParam("none"),
      HadoopFiles.writeColumnsParam))

  def save(subName: String, df: DataFrame, path: String, conf: AdapterConf): Unit = {
    val selected = HadoopFiles.selectColumns(df, conf)
    val line =
      if (selected.columns.length == 1) selected.select(col(selected.columns.head).cast("string"))
      else selected.select(concat_ws(
        conf.str("delimiter").get,
        selected.columns.toIndexedSeq.map(c => col(c).cast("string")): _*))
    line.write
      .mode("overwrite")
      .option("compression", conf.str("codec").get)
      .text(OutPath(path, subName))
  }
}
