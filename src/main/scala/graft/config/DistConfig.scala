package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.adapters.{AdapterConf, Adapters, SelfDescribingFormat}
import graft.io.ModelStore
import graft.streaming.Ingest

/** JSON task model, capability-parity with the reference CLI config
  * (reference: datacooker-dist-cli/.../Configuration.java:89-107).
  *
  * Shape:
  * {{{
  * { "directionName": [
  *     { "source": {"adapter": "hadoopColumnar", "path": "...",
  *                  "part_count": 4, "name": "optional",
  *                  "params": {"delimiter": ",", ...}},
  *       "dest":   {"adapter": "hadoopParquet", "path": "...", "params": {}} } ] }
  * }}}
  *
  * Params stay a raw `Map[String, Any]`, like the reference's
  * `Map<String, Object>`; [[DistConfig.parse]] checks every field, verb
  * and param (against the verb's [[graft.adapters.ParamDef]]s) before
  * any task runs. */
final case class DistLocation(
    adapter: String,
    path: String,
    partCount: Int = 0,
    subName: Option[String] = None,
    params: Map[String, Any] = Map.empty)

/** One pipeline task: load → optional SQL transform → save. `transform`
  * is a SQL statement run against the loaded stream, which is bound as
  * the temp view `_input` (applied per stream on multi-stream loads).
  * The reference delegates SQL processing to its sibling ETL tool
  * (README.md:1 "to supplement Data Cooker ETL"); this engine carries
  * the SQL surface natively, so the pipeline can use it in place.
  *
  * `"verify": true` turns the task into a post-copy integrity check
  * instead of a copy: BOTH locations are loaded and their order-free
  * row fingerprints compared; a mismatch fails the direction.
  * `verify_columns` restricts the fingerprint to named columns
  * (default: every column the two sides share, in source order).
  *
  * `"ingest"` (streaming tasks only) names a registered streaming
  * ingest operator — [[graft.streaming.Ingest.ops]] is the single
  * source of truth for the registry, and `parse` rejects any other
  * name — applied to the stream after the optional `transform`;
  * `"model_dir"` points at the corpus the operator's offline models
  * train from (required with `ingest`). A direction of chained ingest
  * tasks runs the whole tier.
  *
  * `"horizon_ms"` (claim-op ingest tasks only, round 19) bounds the
  * dedup HORIZON: the input must carry an event-time `ts` column, and
  * claim state evicts once the watermark passes keeper claim time +
  * horizon ([[graft.streaming.Streams]] horizoned folds), so a
  * months-long direction's state store is bounded by the horizon, not
  * the corpus. `"lateness"` (default "0 seconds") is the watermark
  * delay for out-of-order arrivals. Without `horizon_ms` the claim
  * state is unbounded — the whole-corpus dedup semantics.
  *
  * `"model_export": true` (round 20) turns the task into an offline
  * model-training export: every model family the ingest tier applies
  * online is trained ONCE from the `source` corpus and persisted as a
  * small parquet table under the `dest` artifact directory (manifest
  * last — [[graft.io.ModelStore]]). An ingest task whose `model_dir`
  * points at an exported directory LOADS the artifact instead of
  * retraining (train-once / apply-everywhere); re-running the export
  * against the same corpus is a no-op. `"model_families"` restricts
  * the export (default: every family in
  * `graft.io.ModelStore.Families`, which `parse` checks it against —
  * restrict when the corpus lacks a family's inputs, e.g. no
  * embeddings table for `ivfadc`). */
final case class DistTask(
    source: DistLocation,
    dest: DistLocation,
    transform: Option[String] = None,
    streaming: Boolean = false,
    verify: Boolean = false,
    verifyColumns: Seq[String] = Seq.empty,
    ingest: Option[String] = None,
    modelDir: Option[String] = None,
    horizonMs: Option[Long] = None,
    lateness: String = "0 seconds",
    modelExport: Boolean = false,
    modelFamilies: Seq[String] = Seq.empty) {
  /** What DistMain runs: `verify`, `model_export`, `streaming` or `batch`. */
  def kind: String =
    if (verify) "verify" else if (modelExport) "model_export" else if (streaming) "streaming"
    else "batch"
}

final case class DistConfig(directions: Map[String, Seq[DistTask]]) {
  def direction(name: String): Seq[DistTask] =
    directions.getOrElse(
      name,
      throw new IllegalArgumentException(
        s"Direction '$name' not found; configured: ${directions.keys.mkString(", ")}"))
}

object DistConfig {
  private val om = new ObjectMapper()

  /** Each task field's JSON key and its value in a parsed task. */
  private val taskFields: Seq[(String, DistTask => Any)] = Seq(
    "source" -> (_.source), "dest" -> (_.dest), "transform" -> (_.transform),
    "streaming" -> (_.streaming), "verify" -> (_.verify), "verify_columns" -> (_.verifyColumns),
    "ingest" -> (_.ingest), "model_dir" -> (_.modelDir), "horizon_ms" -> (_.horizonMs),
    "lateness" -> (_.lateness), "model_export" -> (_.modelExport),
    "model_families" -> (_.modelFamilies))

  private val locationFields: Seq[(String, DistLocation => Any)] = Seq(
    "adapter" -> (_.adapter), "path" -> (_.path), "part_count" -> (_.partCount),
    "name" -> (_.subName), "params" -> (_.params))

  /** Per task kind, the fields DistMain reads: of the task, of its source
    * and of its dest. Every other field must hold its default. A batch
    * dest is only saved to, so its `part_count` is never read. */
  private val reads: Map[String, (Set[String], Set[String], Set[String])] = {
    val all = locationFields.map(_._1).toSet
    val verbAndPath = Set("adapter", "path")
    Map(
      "batch" -> (Set("source", "dest", "transform"), all, all - "part_count"),
      "verify" -> (Set("source", "dest", "verify", "verify_columns"), all, all),
      "streaming" -> (Set("source", "dest", "streaming", "transform", "ingest", "model_dir",
        "horizon_ms", "lateness"), verbAndPath, verbAndPath),
      "model_export" -> (Set("source", "dest", "model_export", "model_families"),
        verbAndPath, verbAndPath))
  }

  def parse(json: String): DistConfig = {
    val root = om.readTree(json)
    require(root.isObject, "Config root must be a JSON object of directions")
    val dirs = root.properties().asScala.map { e =>
      val tasks = e.getValue.elements().asScala.zipWithIndex.map { case (t, i) =>
        // the task's default stream name in DistMain
        val where = s"task ${e.getKey}#$i"
        val task = DistTask(
          location(t, "source", where),
          location(t, "dest", where),
          str(t, "transform", where),
          bool(t, "streaming", where),
          bool(t, "verify", where),
          strings(t, "verify_columns", where),
          str(t, "ingest", where),
          str(t, "model_dir", where),
          typed(t, "horizon_ms", where, "a JSON integer")(
            v => v.isIntegralNumber && v.canConvertToLong)(_.longValue()),
          str(t, "lateness", where).getOrElse("0 seconds"),
          bool(t, "model_export", where),
          strings(t, "model_families", where))
        check(task, t, where)
        task
      }.toSeq
      e.getKey -> tasks
    }.toMap
    DistConfig(dirs)
  }

  /** What a task's run would reject, before any task runs: fields its
    * kind does not read, unknown names, each location's verb and params. */
  private def check(task: DistTask, t: JsonNode, where: String): Unit = {
    val kind = task.kind
    val (taskReads, sourceReads, destReads) = reads(kind)
    fields(t, taskFields, taskReads, task, DistTask(task.source, task.dest), where, s"a $kind task")
    val locations = Seq(("source", task.source, sourceReads), ("dest", task.dest, destReads))
    for ((role, loc, read) <- locations)
      fields(t.get(role), locationFields, read, loc, DistLocation(loc.adapter, loc.path),
        s"$where $role", s"a $kind $role")
    // the claim ledger's layout (batch_id-partitioned parquet, read back
    // by apply_claims/claimView) is part of the claim protocol
    val claimOp = task.ingest.filter(Ingest.claimOps.contains)
    for (op <- claimOp)
      require(task.dest.adapter == "hadoopParquet",
        s"$where dest: ingest op '$op' writes a batch_id-partitioned parquet claim " +
          s"ledger; dest adapter must be hadoopParquet, got '${task.dest.adapter}'")
    for ((role, loc, _) <- locations) {
      def at[A](body: => A): A =
        try body catch {
          case x: IllegalArgumentException =>
            throw new IllegalArgumentException(s"$where $role: ${x.getMessage}", x)
        }
      // a verify task loads its dest; the other kinds save to it
      val saved = role == "dest" && kind != "verify"
      val a = at(if (saved) Adapters.output(loc.adapter) else Adapters.input(loc.adapter))
      kind match {
        // building the conf checks param names, required params and values
        case "batch" | "verify" => at(AdapterConf(a.meta, loc.params))
        case "streaming" if !a.isInstanceOf[SelfDescribingFormat] =>
          val formats = (if (saved) Adapters.outputs else Adapters.inputs)
            .collect { case (v, _: SelfDescribingFormat) => v }
          throw new IllegalArgumentException(s"$where $role: streaming tasks support " +
            s"${formats.mkString("/")}, got '${loc.adapter}'")
        case _ => ()
      }
    }
    val badFamilies = task.modelFamilies.filterNot(ModelStore.Families.contains)
    require(badFamilies.isEmpty, s"$where: unknown model_families " +
      s"${badFamilies.mkString(", ")}; exportable: ${ModelStore.Families.mkString(", ")}")
    for (op <- task.ingest) {
      require(Ingest.ops.contains(op),
        s"$where: unknown ingest op '$op'; registered: ${Ingest.ops.mkString(", ")}")
      require(task.modelDir.isDefined,
        s"$where: ingest op '$op' requires 'model_dir' (the offline training corpus)")
    }
    // exact op set, not a substring test: apply_claims CONSUMES a
    // ledger and would silently ignore a horizon
    require(task.horizonMs.isEmpty || claimOp.isDefined, s"$where: 'horizon_ms' only " +
      s"applies to claim-op ingest tasks (${Ingest.claimOps.mkString(" / ")})")
  }

  /** Unknown keys fail; a known field outside `read` must hold its value
    * in `dflt`. */
  private def fields[A](n: JsonNode, known: Seq[(String, A => Any)], read: Set[String],
      parsed: A, dflt: A, where: String, what: String): Unit = {
    val names = known.map(_._1)
    for (k <- n.fieldNames().asScala if !names.contains(k))
      throw new IllegalArgumentException(
        s"$where: unknown field '$k'; $what reads ${names.filter(read).mkString(", ")}")
    for ((k, get) <- known if !read(k) && get(parsed) != get(dflt))
      throw new IllegalArgumentException(s"$where: $what does not read '$k'")
  }

  /** `field` when present, failing unless `ok`: Jackson's own readers
    * would take `"yes"` as false, `null` as the text "null", a bare
    * string as an empty array and `"four"` as 0 (2.5 as 2), silently. */
  private def typed[A](n: JsonNode, field: String, where: String, expected: String)(
      ok: JsonNode => Boolean)(get: JsonNode => A): Option[A] =
    Option(n.get(field)).map { v =>
      if (!ok(v)) throw new IllegalArgumentException(s"$where: '$field' must be $expected, got $v")
      get(v)
    }

  private def bool(n: JsonNode, field: String, where: String): Boolean =
    typed(n, field, where, "a JSON boolean (true/false)")(_.isBoolean)(_.booleanValue())
      .getOrElse(false)

  private def str(n: JsonNode, field: String, where: String): Option[String] =
    typed(n, field, where, "a JSON string")(_.isTextual)(_.textValue())

  private def strings(n: JsonNode, field: String, where: String): Seq[String] =
    typed(n, field, where, "a JSON array of strings")(
      v => v.isArray && v.elements().asScala.forall(_.isTextual))(
      _.elements().asScala.map(_.textValue()).toSeq).getOrElse(Seq.empty)

  private def location(task: JsonNode, field: String, where: String): DistLocation = {
    val n = Option(task.get(field)).getOrElse(
      throw new IllegalArgumentException(s"$where is missing required '$field'"))
    def req(k: String): String = str(n, k, s"$where $field").getOrElse(
      throw new IllegalArgumentException(s"$where $field is missing required '$k'"))
    DistLocation(
      adapter = req("adapter"),
      path = req("path"),
      partCount = typed(n, "part_count", s"$where $field", "a JSON integer")(
        v => v.isIntegralNumber && v.canConvertToInt)(_.intValue()).getOrElse(0),
      subName = str(n, "name", s"$where $field"),
      params = typed(n, "params", s"$where $field", "a JSON object")(_.isObject)(
        any(_).asInstanceOf[Map[String, Any]]).getOrElse(Map.empty))
  }

  /** JsonNode → plain Scala values (String/Boolean/Long/Double/Seq/Map). */
  private def any(n: JsonNode): Any = n match {
    case _ if n.isTextual => n.asText()
    case _ if n.isBoolean => n.asBoolean()
    case _ if n.isIntegralNumber => n.asLong()
    case _ if n.isFloatingPointNumber => n.asDouble()
    case _ if n.isArray => n.elements().asScala.map(any).toSeq
    case _ if n.isObject =>
      n.properties().asScala.map(e => e.getKey -> any(e.getValue)).toMap
    case _ if n.isNull => null
    case other => other.asText()
  }
}
