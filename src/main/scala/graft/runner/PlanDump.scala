package graft.runner

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.io.Sessions

/** Dumps `.explain("formatted")` for declared queries to files — the
  * plan evidence for the optimization rounds (plans/r20/<q>_{before,after}.txt).
  *
  * Usage: runMain graft.runner.PlanDump <outDir> <suffix> [q1,q2,...]
  *   outDir:  directory for the <query>_<suffix>.txt files
  *   suffix:  e.g. "before" / "after"
  *   queries: comma-separated names; omitted = all registered queries
  *
  * Each dump is the plan that executes: building a query runs its
  * construction-time jobs (model training, model collects, kernel memo
  * checkpoints), so a full sweep runs all of them, and a memo builder's
  * frame reads its checkpoint (`Scan ExistingRDD`) rather than printing
  * the kernel pipeline that wrote it.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(outDir)
    val spark = Sessions.local("graft-plandump")
    val picked = if (args.length > 2 && args(2).nonEmpty) {
      val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
      SparkEntry.allQueries.filter(q => names.contains(q.name))
    } else SparkEntry.allQueries
    for (q <- picked) {
      val txt =
        try {
          SparkEntry.queries(q.name)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case t: Throwable => s"<failed: ${t.getClass.getName}: ${t.getMessage}>" }
      Files.write(outDir.resolve(s"${q.name}_$suffix.txt"), txt.getBytes("UTF-8"))
      System.err.println(s"[plandump] ${q.name} -> ${q.name}_$suffix.txt")
    }
    Sessions.stop(spark)
  }
}
