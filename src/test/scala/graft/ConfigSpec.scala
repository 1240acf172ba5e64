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
        |"horizon_ms": 3600000,""".stripMargin, """, "part_count": 4""")).direction("d")(1)
    assert(t.streaming && !t.verify && !t.modelExport)
    assert(t.horizonMs.contains(3600000L) && t.source.partCount == 4)
    val e = DistConfig.parse(task(""""model_export": true,""")).direction("d")(1)
    assert(e.modelExport && !e.streaming && e.source.partCount == 0)
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
