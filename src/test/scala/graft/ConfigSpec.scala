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
        |"lateness": "5 seconds",""".stripMargin, """, "name": "n"""")).direction("d")(1)
    assert(t.streaming && !t.verify && !t.modelExport)
    assert(t.horizonMs.contains(3600000L) && t.ingest.contains("dedup_claim"))
    assert(t.modelDir.contains("/m"))
    assert(t.transform.contains("SELECT * FROM _input") && t.lateness == "5 seconds")
    assert(t.source.subName.contains("n") && t.source.path == "/a")
    // part_count on a batch task: a streaming task rejects it
    val b = DistConfig.parse(task("", """, "part_count": 4""")).direction("d")(1)
    assert(!b.streaming && b.source.partCount == 4)
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
    for (f <- Seq(""""transform": "SELECT 1",""", """"streaming": true,""")) {
      val msg = rejected(task(s""""verify": true, $f"""))
      assert(msg.contains("task d#1: a 'verify' task") && msg.contains("transform/streaming"), msg)
    }
    for (f <- Seq("", """"verify": false,""")) {
      val msg = rejected(task(s"""$f "verify_columns": ["doc_id"],"""))
      assert(msg.contains("task d#1: 'verify_columns' only applies to a 'verify' task"), msg)
    }
    val stream = """"streaming": true,"""
    for ((json, role) <- Seq(
        task(stream, """, "part_count": 4""") -> "source",
        task(stream, """, "params": {"sub_dirs": true}""") -> "source",
        task(stream).replace(""""path": "/b"}}]}""",
          """"path": "/b", "params": {"codec": "x"}}}]}""") -> "dest")) {
      val msg = rejected(json)
      assert(msg.contains(s"task d#1 $role: a streaming task reads only 'adapter' and 'path'"), msg)
    }
  }

  private val jdbcOut = Adapters.output("jdbcColumnar").meta
  private val parquetIn = Adapters.input("hadoopParquet").meta

  test("AdapterConf.int: numbers and numeric strings; anything else names the verb and param") {
    def conf(v: Any*) = AdapterConf(jdbcOut, Map("driver" -> "d") ++ v.map("batch_size" -> _))
    assert(conf().int("batch_size", 1) == 500)
    assert(conf(7L).int("batch_size", 1) == 7 && conf(" 9").int("batch_size", 1) == 9)
    for ((v, shown) <- Seq("five" -> "\"five\"", 2.5 -> "2.5", (1L << 40) -> "1099511627776",
        true -> "true")) {
      val msg = intercept[IllegalArgumentException](conf(v).int("batch_size", 1)).getMessage
      assert(msg == s"jdbcColumnar batch_size: expected an integer, got $shown", msg)
    }
  }

  test("AdapterConf.bool: booleans and boolean strings; anything else names the verb and param") {
    assert(!AdapterConf(parquetIn, Map.empty).bool("sub_dirs", dflt = true))
    assert(AdapterConf(parquetIn, Map("sub_dirs" -> true)).bool("sub_dirs", dflt = false))
    assert(AdapterConf(parquetIn, Map("sub_dirs" -> "TRUE")).bool("sub_dirs", dflt = false))
    for ((v, shown) <- Seq("yes" -> "\"yes\"", 1L -> "1")) {
      val msg = intercept[IllegalArgumentException](
        AdapterConf(parquetIn, Map("sub_dirs" -> v)).bool("sub_dirs", dflt = false)).getMessage
      assert(msg == s"hadoopParquet sub_dirs: expected true or false, got $shown", msg)
    }
  }
}
