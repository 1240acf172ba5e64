package graft.adapters

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Adapter SPI — the engine's plugin surface, capability-parity with the
  * reference's `InputAdapter`/`OutputAdapter` + `DefinitionMetaBuilder`
  * contracts (reference: datacooker-jdbc/.../JdbcColumnarInput.java:27-77,
  * datacooker-dist-cli/.../Main.java:114-148), re-expressed on
  * `DataFrameReader`/`DataFrameWriter` so Catalyst owns pushdown, pruning
  * and the committer.
  *
  * A declared [[ParamDef]] list doubles as the doc source (DocGen parity,
  * reference DocGen.java:42-227) and powers validation/coercion of the
  * loosely-typed config params.
  */
final case class ParamDef(
    name: String,
    descr: String,
    default: Option[Any] = None,
    required: Boolean = false)

final case class AdapterMeta(
    verb: String,
    descr: String,
    pathExamples: Seq[String],
    params: Seq[ParamDef])

/** Validated view over the raw config params of one task location. */
final case class AdapterConf(meta: AdapterMeta, raw: Map[String, Any]) {
  private val defs = meta.params.map(d => d.name -> d).toMap
  for (d <- meta.params if d.required)
    require(raw.contains(d.name), s"${meta.verb}: required param '${d.name}' missing")
  for (k <- raw.keys if !defs.contains(k) && k != "tmp")
    throw new IllegalArgumentException(
      s"${meta.verb}: unknown param '$k'; known: ${defs.keys.mkString(", ")}")

  private def get(name: String): Option[Any] =
    raw.get(name).orElse(defs.get(name).flatMap(_.default))

  def str(name: String): Option[String] = get(name).map(String.valueOf)
  def str(name: String, dflt: String): String = str(name).getOrElse(dflt)
  def int(name: String, dflt: Int): Int = get(name) match {
    case Some(n: Int) => n
    case Some(n: Long) if n.isValidInt => n.toInt
    case Some(s: String) => s.trim.toIntOption.getOrElse(invalid(name, "an integer", s))
    case None | Some(null) => dflt
    case Some(v) => invalid(name, "an integer", v)
  }
  def bool(name: String, dflt: Boolean): Boolean = get(name) match {
    case Some(b: Boolean) => b
    case Some(s: String) => s.trim.toBooleanOption.getOrElse(invalid(name, "true or false", s))
    case None | Some(null) => dflt
    case Some(v) => invalid(name, "true or false", v)
  }

  private def invalid(name: String, expected: String, got: Any): Nothing = {
    val shown = got match {
      case s: String => "\"" + s + "\""
      case other => String.valueOf(other)
    }
    throw new IllegalArgumentException(s"${meta.verb} $name: expected $expected, got $shown")
  }
  def strSeq(name: String): Option[Seq[String]] = get(name) match {
    case Some(s: Seq[_]) => Some(s.map(String.valueOf))
    case Some(s: String) if s.nonEmpty => Some(s.split(",").toSeq)
    case _ => None
  }
}

trait InputAdapter {
  def meta: AdapterMeta

  /** Load one task location. One load may produce several named streams
    * (`sub_dirs` semantics, reference S3DirectInput.java:55-118): the
    * result maps stream name → DataFrame, in discovery order.
    */
  def load(
      spark: SparkSession,
      path: String,
      name: String,
      partCount: Int,
      conf: AdapterConf): ListMap[String, DataFrame]
}

trait OutputAdapter {
  def meta: AdapterMeta

  /** Save one stream under `subName` (possibly empty) below `path`. */
  def save(subName: String, df: DataFrame, path: String, conf: AdapterConf): Unit
}

/** Explicit registry (no classpath scan needed — reference Adapters.INPUTS /
  * OUTPUTS populated via @RegisteredPackage scan, Main.java:114,129). */
object Adapters {
  private val parquetInput = new HadoopFileInput(
    "hadoopParquet", "Parquet files (schema carried by the files; vectorized scan)",
    "parquet", mergeSchema = true)
  private val parquetOutput = new HadoopFileOutput(
    "hadoopParquet", "Parquet files (columnar, compressed, splittable)",
    "parquet", "snappy", bucketed = true)

  val inputs: Map[String, InputAdapter] = ListMap(
    "hadoopColumnar" -> new HadoopColumnarInput,
    "hadoopText" -> new HadoopTextInput,
    "hadoopParquet" -> parquetInput,
    "hadoopJson" -> new HadoopFileInput(
      "hadoopJson", "JSON-lines files (schema inferred or projected)", "json", mergeSchema = false),
    "hadoopOrc" -> new HadoopFileInput(
      "hadoopOrc", "ORC files (schema carried by the files; vectorized scan)", "orc",
      mergeSchema = true),
    "jdbcColumnar" -> new JdbcColumnarInput,
    // s3direct* verbs: the same Hadoop sources on s3a:// paths, wrapped
    // with the reference's per-task credentials/endpoint/region params
    // (mapped to per-bucket fs.s3a.bucket.<name>.* conf):
    "s3directColumnar" -> new S3DirectInputAdapter("s3directColumnar", new HadoopColumnarInput),
    "s3directText" -> new S3DirectInputAdapter("s3directText", new HadoopTextInput),
    // The reference's columnar input transparently reads .parquet objects
    // under the same prefix (S3DirectColumnarInputFunction.java:60-76).
    // Deliberate divergence: parquet gets its OWN verb instead of
    // extension sniffing inside the columnar scan — Spark's vectorized
    // parquet source and the line-based CSV source cannot share one scan,
    // and a silent per-object format switch hides exactly the schema
    // drift per_file_schema exists to surface. A mixed prefix is served
    // by two tasks over the same path (each source prunes to its format
    // via path_filter/suffix); docs/adapters.md states the recipe.
    "s3directParquet" -> new S3DirectInputAdapter("s3directParquet", parquetInput),
    // the operator library as a source: any registered query → any sink
    "graftQuery" -> new GraftQueryInput)

  val outputs: Map[String, OutputAdapter] = ListMap(
    "hadoopColumnar" -> new HadoopColumnarOutput,
    "hadoopText" -> new HadoopTextOutput,
    "hadoopParquet" -> parquetOutput,
    "hadoopJson" -> new HadoopFileOutput("hadoopJson", "JSON-lines files", "json", "none"),
    "hadoopOrc" -> new HadoopFileOutput(
      "hadoopOrc", "ORC files (columnar, compressed, splittable)", "orc", "snappy"),
    "jdbcColumnar" -> new JdbcColumnarOutput,
    "s3directColumnar" -> new S3DirectOutputAdapter("s3directColumnar", new HadoopColumnarOutput),
    "s3directText" -> new S3DirectOutputAdapter("s3directText", new HadoopTextOutput),
    "s3directParquet" -> new S3DirectOutputAdapter("s3directParquet", parquetOutput))

  def input(verb: String): InputAdapter = inputs.getOrElse(
    verb, throw new IllegalArgumentException(s"Input adapter '$verb' not found"))
  def output(verb: String): OutputAdapter = outputs.getOrElse(
    verb, throw new IllegalArgumentException(s"Output adapter '$verb' not found"))
}
