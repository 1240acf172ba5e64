package graft.runner

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Renders the registered query surface to `docs/queries.md` — one row
  * per capability query with its module and verification mode (DuckDB
  * hash oracle vs rows-only). Run after adding queries, like DocGen for
  * adapters. */
object QueryCatalog {

  def render(): String = {
    val modules = graft.SparkEntry.modules
    val sb = new StringBuilder
    sb.append("# Query catalog\n\n")
    sb.append("Generated by `graft.runner.QueryCatalog` — do not edit by hand.\n")
    val total = modules.map(_._2.size).sum
    val oracled = modules.map(_._2.count(_.oracle.isDefined)).sum
    sb.append(s"$total registered queries; $oracled hash-checked against the DuckDB " +
      "oracle at sf0.01 (the rest get the driver's rows-only check).\n\n")
    sb.append("| query | module | check |\n|---|---|---|\n")
    for ((mod, qs) <- modules; q <- qs) {
      val check = if (q.oracle.isDefined) "DuckDB hash" else "rows-only"
      sb.append(s"| `${q.name}` | $mod | $check |\n")
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "docs/queries.md"
    Files.write(Paths.get(out), render().getBytes(StandardCharsets.UTF_8))
    println(s"wrote $out")
  }
}
