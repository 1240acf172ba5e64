package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.adapters.{AdapterConf, Adapters}
import graft.config.DistConfig

/** Malformed task configs and adapter params fail at parse or conf time,
  * naming the field and its task or verb. Parse-only: no Spark session. */
class ConfigSpec extends AnyFunSuite {

  private def task(fields: String, source: String = ""): String =
    s"""{"d": [
      {"source": {"adapter": "hadoopParquet", "path": "/a"},
       "dest": {"adapter": "hadoopParquet", "path": "/b"}},
      {$fields "source": {"adapter": "hadoopParquet", "path": "/a" $source},
       "dest": {"adapter": "hadoopParquet", "path": "/b"}}]}"""

  private def rejected(json: String): String =
    intercept[IllegalArgumentException](DistConfig.parse(json)).getMessage

  test("config parse: typed task fields accept their JSON types") {
    val t = DistConfig.parse(task(
      """"streaming": true, "verify": false, "ingest": "dedup_claim", "model_dir": "/m",
        |"horizon_ms": 3600000, "transform": "SELECT * FROM _input",
        |"lateness": "5 seconds",""".stripMargin)).direction("d")(1)
    assert(t.streaming && !t.verify && !t.modelExport)
    assert(t.horizonMs.contains(3600000L) && t.ingest.contains("dedup_claim"))
    assert(t.modelDir.contains("/m"))
    assert(t.transform.contains("SELECT * FROM _input") && t.lateness == "5 seconds")
    // part_count and name on a batch task: a streaming task rejects them
    val b = DistConfig.parse(task("", """, "part_count": 4, "name": "n"""")).direction("d")(1)
    assert(!b.streaming && b.source.partCount == 4)
    assert(b.source.subName.contains("n") && b.source.path == "/a")
    val e = DistConfig.parse(task(""""model_export": true, "model_families": ["classifier"],"""))
      .direction("d")(1)
    assert(e.modelExport && !e.streaming && e.source.partCount == 0)
    assert(e.modelFamilies == Seq("classifier"))
    val v = DistConfig.parse(task(""""verify": true, "verify_columns": ["doc_id", "text"],"""))
      .direction("d")(1)
    assert(v.verify && v.verifyColumns == Seq("doc_id", "text"))
  }

  test("config parse: a mistyped boolean fails, naming the field and the task") {
    for (f <- Seq("streaming", "verify", "model_export"); v <- Seq("\"yes\"", "1", "null")) {
      val msg = rejected(task(s""""$f": $v,"""))
      assert(msg.contains("task d#1") && msg.contains(s"'$f' must be a JSON boolean") &&
        msg.contains(s"got $v"), msg)
    }
  }

  test("config parse: a mistyped integer fails, naming the field and the task") {
    for (v <- Seq("\"four\"", "2.5", "4294967296", "true")) {
      val msg = rejected(task("", s""", "part_count": $v"""))
      assert(msg.contains("task d#1 source") && msg.contains("'part_count' must be a JSON integer") &&
        msg.contains(s"got $v"), msg)
    }
    for (v <- Seq("\"1h\"", "1.5", "99999999999999999999")) {
      val msg = rejected(task(
        s""""streaming": true, "ingest": "dedup_claim", "model_dir": "/m", "horizon_ms": $v,"""))
      assert(msg.contains("task d#1") && msg.contains("'horizon_ms' must be a JSON integer"), msg)
    }
  }

  test("config parse: a mistyped string field fails, naming the field and the task") {
    for (f <- Seq("transform", "ingest", "model_dir", "lateness");
        v <- Seq("null", "3", "true", "[\"x\"]")) {
      val msg = rejected(task(s""""$f": $v,"""))
      assert(msg.contains("task d#1") && msg.contains(s"'$f' must be a JSON string") &&
        msg.contains(s"got $v"), msg)
    }
    for (f <- Seq("adapter", "path", "name"); v <- Seq("null", "7", "{}")) {
      val fields = Map("adapter" -> "\"hadoopParquet\"", "path" -> "\"/a\"") + (f -> v)
      val src = fields.map { case (k, x) => s""""$k": $x""" }.mkString(", ")
      val msg = rejected(s"""{"d": [{"source": {$src},
        "dest": {"adapter": "hadoopParquet", "path": "/b"}}]}""")
      assert(msg.contains("task d#0 source") && msg.contains(s"'$f' must be a JSON string") &&
        msg.contains(s"got $v"), msg)
    }
  }

  test("config parse: a string-list field must be a JSON array of strings") {
    for ((f, kind) <- Seq("verify_columns" -> "\"verify\"", "model_families" -> "\"model_export\"");
        v <- Seq("\"classifier\"", "[1]", "[null]", "{}")) {
      val msg = rejected(task(s"""$kind: true, "$f": $v,"""))
      assert(msg.contains("task d#1") && msg.contains(s"'$f' must be a JSON array of strings") &&
        msg.contains(s"got $v"), msg)
    }
  }

  test("config parse: fields the task's kind ignores fail instead of being dropped") {
    for ((f, field) <- Seq(""""transform": "SELECT 1",""" -> "transform",
        """"streaming": true,""" -> "streaming")) {
      val msg = rejected(task(s""""verify": true, $f"""))
      assert(msg == s"task d#1: a verify task does not read '$field'", msg)
    }
    for (f <- Seq("", """"verify": false,""")) {
      val msg = rejected(task(s"""$f "verify_columns": ["doc_id"],"""))
      assert(msg == "task d#1: a batch task does not read 'verify_columns'", msg)
    }
    val stream = """"streaming": true,"""
    for ((json, role, field) <- Seq(
        (task(stream, """, "part_count": 4"""), "source", "part_count"),
        (task(stream, """, "params": {"sub_dirs": true}"""), "source", "params"),
        (task(stream).replace(""""path": "/b"}}]}""",
          """"path": "/b", "params": {"codec": "x"}}}]}"""), "dest", "params"))) {
      val msg = rejected(json)
      assert(msg == s"task d#1 $role: a streaming $role does not read '$field'", msg)
    }
    // a field at its default is not a mistake, on any kind
    val quiet = DistConfig.parse(task(
      s"""$stream "verify": false, "verify_columns": [], "model_families": [],""",
      """, "part_count": 0, "params": {}""")).direction("d")(1)
    assert(quiet.streaming && quiet.source.partCount == 0)
  }

  private val jdbcOut = Adapters.output("jdbcColumnar").meta
  private val parquetIn = Adapters.input("hadoopParquet").meta

  test("AdapterConf.int: numbers and numeric strings; anything else names the verb and param") {
    def conf(v: Any*) = AdapterConf(jdbcOut, Map("driver" -> "d") ++ v.map("batch_size" -> _))
    assert(conf().int("batch_size") == 500)
    assert(conf(7L).int("batch_size") == 7 && conf(" 9").int("batch_size") == 9)
    for ((v, shown) <- Seq("five" -> "\"five\"", 2.5 -> "2.5", (1L << 40) -> "1099511627776",
        true -> "true", (null: Any) -> "null")) {
      val msg = intercept[IllegalArgumentException](conf(v)).getMessage
      assert(msg == s"jdbcColumnar batch_size: expected an integer, got $shown", msg)
    }
  }

  test("AdapterConf.bool: booleans and boolean strings; anything else names the verb and param") {
    assert(!AdapterConf(parquetIn, Map.empty).bool("sub_dirs"))
    assert(AdapterConf(parquetIn, Map("sub_dirs" -> true)).bool("sub_dirs"))
    assert(AdapterConf(parquetIn, Map("sub_dirs" -> "TRUE")).bool("sub_dirs"))
    for ((v, shown) <- Seq("yes" -> "\"yes\"", 1L -> "1", (null: Any) -> "null")) {
      val msg = intercept[IllegalArgumentException](
        AdapterConf(parquetIn, Map("sub_dirs" -> v))).getMessage
      assert(msg == s"hadoopParquet sub_dirs: expected true or false, got $shown", msg)
    }
  }

  /** A second task with the given source and dest locations. */
  private def locations(source: String, dest: String, fields: String = ""): String =
    s"""{"d": [
      {"source": {"adapter": "hadoopParquet", "path": "/a"},
       "dest": {"adapter": "hadoopParquet", "path": "/b"}},
      {$fields "source": {$source}, "dest": {$dest}}]}"""

  private val parquet = """"adapter": "hadoopParquet", "path": "/a""""
  private def jdbc(params: String) =
    s""""adapter": "jdbcColumnar", "path": "jdbc:derby:memory:x", "params": {$params}"""
  private def dest(adapter: String, params: String) =
    s""""adapter": "$adapter", "path": "/b", "params": {$params}"""

  test("config parse: an unknown verb fails, naming the task and the role") {
    for ((json, role, shown) <- Seq(
        (locations(""""adapter": "nope", "path": "/a"""", dest("hadoopParquet", "")),
          "source", "unknown input adapter 'nope'"),
        (locations(parquet, dest("nope", "")), "dest", "unknown output adapter 'nope'"),
        // graftQuery only reads, so a batch dest cannot name it
        (locations(parquet, dest("graftQuery", "")), "dest", "unknown output adapter 'graftQuery'"),
        // a verify task loads its dest, so an output-only name fails as an input
        (locations(parquet, dest("nope", ""), """"verify": true,"""), "dest",
          "unknown input adapter 'nope'"))) {
      val msg = rejected(json)
      assert(msg.startsWith(s"task d#1 $role: $shown; registered: "), msg)
    }
  }

  test("config parse: adapter params are checked against the verb's ParamDefs") {
    for ((json, role, shown) <- Seq(
        (locations(parquet + """, "params": {"bogus": 1}""", dest("hadoopParquet", "")),
          "source", "hadoopParquet: unknown param 'bogus'"),
        (locations(parquet, jdbc(""""table": "t"""")),
          "dest", "jdbcColumnar: required param 'driver' missing"),
        (locations(parquet, jdbc(""""driver": "d", "batch_size": "five"""")),
          "dest", "jdbcColumnar batch_size: expected an integer, got \"five\""),
        (locations(parquet, dest("hadoopColumnar", """"header": "yes"""")),
          "dest", "hadoopColumnar header: expected true or false, got \"yes\""),
        (locations(parquet, dest("hadoopColumnar", """"delimiter": null""")),
          "dest", "hadoopColumnar delimiter: expected a string, number or boolean, got null"),
        (locations(parquet + """, "params": {"path_filter": null}""", dest("hadoopParquet", "")),
          "source", "hadoopParquet path_filter: expected a string, number or boolean, got null"),
        (locations(parquet + """, "params": {"partitioning": "bogus"}""",
          dest("hadoopParquet", "")),
          "source", "hadoopParquet partitioning: expected one of hashcode, random, got \"bogus\""),
        (locations(parquet, dest("hadoopParquet", """"save_mode": "sometimes"""")),
          "dest", "hadoopParquet save_mode: expected one of overwrite, append, ignore, error, " +
            "errorifexists, default, got \"sometimes\""),
        (locations(parquet, jdbc(""""driver": "d", "upsert_dialect": "x"""")),
          "dest", "jdbcColumnar upsert_dialect: expected one of update_insert, merge, " +
            "on_conflict, duplicate_key, got \"x\""),
        // a verify task's dest is loaded, so it takes input params only
        (locations(parquet, dest("hadoopParquet", """"codec": "zstd""""), """"verify": true,"""),
          "dest", "hadoopParquet: unknown param 'codec'"))) {
      val msg = rejected(json)
      assert(msg.startsWith(s"task d#1 $role: $shown"), msg)
    }
  }

  test("config parse: an unknown field fails, naming the task, the role and the field") {
    assert(rejected(task(""""transfrom": "SELECT 1",""")) ==
      "task d#1: unknown field 'transfrom'; a batch task reads source, dest, transform")
    assert(rejected(task("", """, "part_cnt": 4""")) == "task d#1 source: unknown field " +
      "'part_cnt'; a batch source reads adapter, path, part_count, name, params")
    // a batch dest is only saved to: its part_count would be ignored
    assert(rejected(locations(parquet, dest("hadoopParquet", "") + """, "part_count": 4""")) ==
      "task d#1 dest: a batch dest does not read 'part_count'")
    assert(rejected(locations(parquet, """"adapter": "hadoopParquet", "path": "/b", "params": 4""")) ==
      "task d#1 dest: 'params' must be a JSON object, got 4")
  }

  test("config parse: streaming verbs, ingest model_dir and the claim-ledger dest") {
    val formats = "hadoopParquet/hadoopJson/hadoopOrc"
    assert(rejected(locations(""""adapter": "hadoopColumnar", "path": "/a"""",
      dest("hadoopParquet", ""), """"streaming": true,""")) ==
      s"task d#1 source: streaming tasks support $formats, got 'hadoopColumnar'")
    assert(rejected(task(""""streaming": true, "ingest": "dedup_claim",""")) ==
      "requirement failed: task d#1: ingest op 'dedup_claim' requires 'model_dir' " +
        "(the offline training corpus)")
    for (verb <- Seq("hadoopColumnar", "hadoopJson")) {
      val msg = rejected(locations(parquet, s""""adapter": "$verb", "path": "/b"""",
        """"streaming": true, "ingest": "dedup_claim", "model_dir": "/m","""))
      assert(msg == "requirement failed: task d#1 dest: ingest op 'dedup_claim' writes a " +
        "batch_id-partitioned parquet claim ledger; dest adapter must be hadoopParquet, " +
        s"got '$verb'", msg)
    }
  }

  test("config parse: the lenient param forms are kept, and read through AdapterConf") {
    val c = DistConfig.parse(s"""{"d": [
      {"source": {"adapter": "jdbcColumnar", "path": "jdbc:derby:memory:x", "part_count": 4,
                  "params": {"driver": "d", "table": "t", "partition_column": "k",
                             "lower_bound": 1, "upper_bound": 90000}},
       "dest": {${jdbc(""""driver": "d", "mode": "APPEND", "batch_size": "9",
                        "columns": "a,b", "upsert_keys": "k1, k2"""")}}},
      {"source": {$parquet},
       "dest": {${dest("hadoopParquet", """"save_mode": "Ignore", "partition_by": ["p"]""")}}}
      ]}""")
    val Seq(jdbcTask, fileTask) = c.direction("d")
    val in = AdapterConf(Adapters.input("jdbcColumnar").meta, jdbcTask.source.params)
    assert(in.str("lower_bound").contains("1") && in.str("upper_bound").contains("90000"))
    assert(!in.bool("nest_comments"))
    val out = AdapterConf(jdbcOut, jdbcTask.dest.params)
    assert(out.str("mode").contains("append") && out.int("batch_size") == 9)
    assert(out.strSeq("columns").contains(Seq("a", "b")))
    assert(out.strSeq("upsert_keys").contains(Seq("k1", " k2")))
    assert(out.str("upsert_dialect").contains("update_insert"))
    val file = AdapterConf(Adapters.output("hadoopParquet").meta, fileTask.dest.params)
    assert(file.str("save_mode").contains("ignore") && file.strSeq("partition_by").contains(Seq("p")))
    assert(file.str("codec").contains("snappy") && file.int("max_records_per_file") == 0)
  }

  test("config parse: the FIXTURES.md section 7 config parses unchanged") {
    val doc = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("FIXTURES.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val json = doc.split("## 7\\.")(1).split("```json")(1).split("```")(0)
    val t = DistConfig.parse(json).direction("csv2parquet").head
    assert(t.source.partCount == 4 && t.dest.subName.contains("lineitem"))
    assert(AdapterConf(Adapters.output("hadoopParquet").meta, t.dest.params).str("codec")
      .contains("NONE"))
  }
}
