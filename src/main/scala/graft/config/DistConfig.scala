package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

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
  * Params stay loosely typed (`Map[String, Any]`) exactly like the
  * reference's `Map<String, Object>`; each adapter validates and coerces
  * them against its declared [[graft.adapters.ParamDef]]s.
  */
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
  * name — applied to the
  * stream after the optional `transform`; `"model_dir"` points at the
  * corpus the operator's offline models train from (required with
  * `ingest`). A direction of chained ingest tasks runs the whole
  * tier.
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
    modelFamilies: Seq[String] = Seq.empty)

final case class DistConfig(directions: Map[String, Seq[DistTask]]) {
  def direction(name: String): Seq[DistTask] =
    directions.getOrElse(
      name,
      throw new IllegalArgumentException(
        s"Direction '$name' not found; configured: ${directions.keys.mkString(", ")}"))
}

object DistConfig {
  private val om = new ObjectMapper()

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
          integral(t, "horizon_ms", where, _.canConvertToLong).map(_.longValue()),
          str(t, "lateness", where).getOrElse("0 seconds"),
          bool(t, "model_export", where),
          strings(t, "model_families", where))
        // model_export is a self-contained batch verb (source = the
        // training corpus, dest = the artifact dir): combining it with
        // streaming/ingest/verify/transform would silently apply only
        // one of the two semantics
        require(!task.modelExport || (!task.streaming && !task.verify &&
            task.ingest.isEmpty && task.transform.isEmpty),
          s"$where: 'model_export' is a standalone " +
            "batch task and cannot combine with streaming/ingest/verify/transform")
        require(task.modelFamilies.isEmpty || task.modelExport,
          s"$where: 'model_families' only applies " +
            "to a 'model_export' task")
        // fields the task's kind never reads fail too: DistMain runs a
        // verify task before looking at transform or streaming, and a
        // streaming task reads only each location's adapter and path
        require(!task.verify || (task.transform.isEmpty && !task.streaming),
          s"$where: a 'verify' task compares the two locations as stored " +
            "and cannot combine with transform/streaming")
        require(task.verifyColumns.isEmpty || task.verify,
          s"$where: 'verify_columns' only applies to a 'verify' task")
        for ((role, loc) <- Seq("source" -> task.source, "dest" -> task.dest))
          require(!task.streaming || (loc.partCount == 0 && loc.params.isEmpty),
            s"$where $role: a streaming task reads only 'adapter' and 'path', " +
              "so 'part_count' and 'params' would be ignored")
        // unknown names fail here, before any task of the direction
        // writes output
        val badFamilies = task.modelFamilies.filterNot(ModelStore.Families.contains)
        require(badFamilies.isEmpty,
          s"$where: unknown model_families " +
            s"${badFamilies.mkString(", ")}; exportable: ${ModelStore.Families.mkString(", ")}")
        require(task.ingest.forall(Ingest.ops.contains),
          s"$where: unknown ingest op " +
            s"'${task.ingest.get}'; registered: ${Ingest.ops.mkString(", ")}")
        // exact op set, not a substring test: apply_claims CONSUMES a
        // ledger and would silently ignore a horizon
        require(task.horizonMs.isEmpty || task.ingest.exists(Ingest.claimOps.contains),
          s"$where: 'horizon_ms' only applies to " +
            s"claim-op ingest tasks (${Ingest.claimOps.mkString(" / ")})")
        // fail loudly, at parse time: a batch task with `ingest` set
        // would otherwise copy the data verbatim — the quality/
        // contamination gate silently never runs and the output looks
        // plausible (ADVICE r16). Matches the streaming path's
        // model_dir check in posture.
        require(task.ingest.isEmpty || task.streaming,
          s"$where: 'ingest' (${task.ingest.get}) " +
            "requires '\"streaming\": true' — a batch task would ignore it " +
            "and copy the data unprocessed")
        task
      }.toSeq
      e.getKey -> tasks
    }.toMap
    DistConfig(dirs)
  }

  /** A JSON boolean, false when absent. Jackson's `asBoolean` would read
    * `"yes"` (or any other non-boolean) as false, silently. */
  private def bool(n: JsonNode, field: String, where: String): Boolean =
    Option(n.get(field)).exists { v =>
      if (!v.isBoolean) throw new IllegalArgumentException(
        s"$where: '$field' must be a JSON boolean (true/false), got $v")
      v.booleanValue()
    }

  /** A JSON string, when present. Jackson's `asText` would read `null`
    * as the text "null" (a relative path, a SQL statement), silently. */
  private def str(n: JsonNode, field: String, where: String): Option[String] =
    Option(n.get(field)).map { v =>
      if (!v.isTextual) throw new IllegalArgumentException(
        s"$where: '$field' must be a JSON string, got $v")
      v.textValue()
    }

  /** A JSON array of strings, empty when absent. `elements()` of a bare
    * string is empty, which would read as "no restriction", silently. */
  private def strings(n: JsonNode, field: String, where: String): Seq[String] =
    Option(n.get(field)).map { v =>
      if (!v.isArray || !v.elements().asScala.forall(_.isTextual))
        throw new IllegalArgumentException(
          s"$where: '$field' must be a JSON array of strings, got $v")
      v.elements().asScala.map(_.textValue()).toSeq
    }.getOrElse(Seq.empty)

  /** A JSON integer that `fits`, when present. Jackson's `asInt`/`asLong`
    * would read `"four"` as 0 and truncate 2.5 to 2, silently. */
  private def integral(n: JsonNode, field: String, where: String,
      fits: JsonNode => Boolean): Option[JsonNode] =
    Option(n.get(field)).map { v =>
      if (!v.isIntegralNumber || !fits(v)) throw new IllegalArgumentException(
        s"$where: '$field' must be a JSON integer, got $v")
      v
    }

  private def location(task: JsonNode, field: String, where: String): DistLocation = {
    val n = Option(task.get(field)).getOrElse(
      throw new IllegalArgumentException(s"$where is missing required '$field'"))
    def req(k: String): String = str(n, k, s"$where $field").getOrElse(
      throw new IllegalArgumentException(s"$where $field is missing required '$k'"))
    DistLocation(
      adapter = req("adapter"),
      path = req("path"),
      partCount = integral(n, "part_count", s"$where $field", _.canConvertToInt)
        .map(_.intValue()).getOrElse(0),
      subName = str(n, "name", s"$where $field"),
      params = Option(n.get("params")).map(any(_).asInstanceOf[Map[String, Any]])
        .getOrElse(Map.empty))
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
