package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.io.Sessions

/** One benchmark JVM: starts a session the way DistMain does, then either
  * makes the workload's seeded inputs (`--mode gen`) or runs one pass of it
  * (`--mode pass`), and writes what it measured as JSON to `--result`.
  * `run.py` launches and reads these. */
object Main {
  private val om = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val t0 = System.nanoTime()
    val spark = Sessions.local("graftbench", a("cores"))
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val now = java.time.Instant.now()
    val result = mutable.LinkedHashMap[String, Any](
      "ready_epoch_s" -> (now.getEpochSecond + now.getNano / 1e9), "session_ms" -> sessionMs)
    if (a("mode") == "pass") {
      try pass(spark, a, sessionMs, result)
      finally {
        Files.write(Path.of(a("result")), om.writeValueAsBytes(result))
        Sessions.stop(spark)
      }
    } else {
      // "gen": the seeded inputs, if any; once written nothing is left to
      // flush, so skip the orderly stop
      Workloads(a("workload"), ctx(spark, a)).generate()
      Files.write(Path.of(a("result")), om.writeValueAsBytes(result))
      Runtime.getRuntime.halt(0)
    }
  }

  private def describe(t: Throwable): String = {
    var r = t
    while (r.getCause != null && r.getCause != r) r = r.getCause
    val msg = (x: Throwable) => s"${x.getClass.getSimpleName}: ${String.valueOf(x.getMessage).linesIterator.nextOption().getOrElse("")}"
    if (r eq t) msg(t) else s"${msg(t)} (cause ${msg(r)})"
  }

  private def ctx(spark: org.apache.spark.sql.SparkSession, a: Map[String, String]): Ctx = {
    val all = om.readValue(Path.of(a("expected")).toFile, classOf[Map[String, Any]])
    val tableRows = all("table_rows").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.toString.toLong }
    new Ctx(spark, Path.of(a("root")), a("data"), Path.of(a("ws")), a("seed").toLong,
      a("tiny") == "1", a("corrupt") == "1",
      all.getOrElse(a("workload"), Map.empty).asInstanceOf[Map[String, Any]], tableRows)
  }

  private def pass(spark: org.apache.spark.sql.SparkSession, a: Map[String, String],
      sessionMs: Double, result: mutable.LinkedHashMap[String, Any]): Unit = {
    val c = ctx(spark, a)
    val w = Workloads(a("workload"), c)
    w.reset()
    // the config is parsed here, before the pass clock starts
    val ops = w.ops()
    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    val opsOut = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passStart = System.nanoTime()
    for (op <- ops) {
      val tr = tracer.map(_.begin(op.name, op.kind, op.direction))
      val err =
        try { op.run(() => tr.foreach(_.mark(System.currentTimeMillis()))); None }
        catch { case t: Throwable => Some(describe(t)) }
      for (t <- tracer; o <- tr) t.end(o)
      err.foreach(e => System.err.println(s"[graftbench] ${op.name} FAILED: $e"))
      opsOut += Map("name" -> op.name, "kind" -> op.kind, "ok" -> err.isEmpty,
        "error" -> err.getOrElse(""))
    }
    val wallS = (System.nanoTime() - passStart) / 1e9
    result ++= Seq("wall_s" -> wallS, "ops" -> opsOut, "in_rows" -> w.inRows,
      "in_bytes" -> w.inBytes, "out_bytes" -> w.outBytes)
    tracer.foreach { t =>
      val cores = a("cores").toInt
      result("layers") = layers(t, wallS * 1000, cores, sessionMs, c.parseMs, c.tableRows)
      result("op_traces") = t.ops.map(opDetail(t, _))
      result("spans") = spans(t)
    }
  }

  private def opLayer(kind: String): String = kind match {
    case "task.stream" => "streaming"
    case "task.export" => "io"
    case k if k.startsWith("task.") => "runner"
    case "query" => "queries"
    case _ => "check"
  }

  /** Every per-layer metric of one pass, summed over its operations. */
  def layers(t: Tracer, wallMs: Double, cores: Int, sessionMs: Double, parseMs: Double,
      tableRows: Map[String, Long]): Map[String, Double] = {
    val ops = t.ops.toSeq
    def sum(os: Seq[OpTrace])(f: OpTrace => Double): Double = os.map(f).sum
    def cnt(os: Seq[OpTrace], k: String): Double = sum(os)(_.c(k))
    val tasks = ops.filter(_.kind.startsWith("task."))
    // a verify task never writes; its time counts only in runner.verify_ms
    val writers = tasks.filter(_.kind != "task.verify")
    val queryOps = ops.filter(o => o.kind == "query" || (o.kind == "task.batch" &&
      o.name.contains("graftQuery->")))
    val streamOps = ops.filter(_.kind == "task.stream")
    val streams = ops.flatMap(_.streams.values)
    def st(k: String): Double = streams.map(_.c(k)).sum
    val tableRowsRead = sum(queryOps)(_.tables.toSeq.map(tr => tableRows.getOrElse(tr, 0L)).sum.toDouble)
    val sparkTasks = cnt(ops, "spark.tasks")
    val failedTasks = cnt(ops, "spark.failed_tasks")
    val taskCpu = cnt(ops, "spark.task_cpu_ms")
    val streamMs = sum(streamOps)(_.opMs)
    Map(
      "io.session_ms" -> sessionMs,
      "io.model_export_ms" -> sum(ops.filter(_.kind == "task.export"))(_.opMs),
      "config.parse_ms" -> parseMs,
      "runner.tasks" -> tasks.size.toDouble,
      "runner.task_ms" -> sum(tasks)(_.opMs),
      "runner.verify_ms" -> sum(tasks.filter(_.kind == "task.verify"))(_.opMs),
      "runner.build_ms" -> sum(writers)(_.buildMs),
      "runner.write_ms" -> sum(writers)(_.execMs),
      "runner.eager_jobs" -> sum(writers)(_.eagerJobs.toDouble),
      "adapters.rows_in" -> cnt(tasks, "rows_read"),
      "adapters.bytes_in" -> cnt(tasks, "bytes_read"),
      "adapters.rows_out" -> cnt(tasks, "rows_written"),
      "adapters.bytes_out" -> cnt(tasks, "bytes_written"),
      "adapters.files_out" -> cnt(tasks, "files_out"),
      "adapters.jdbc_ms" -> sum(tasks.filter(_.name.contains("jdbc")))(_.opMs),
      "queries.build_ms" -> sum(queryOps)(_.buildMs),
      "queries.build_jobs" -> sum(queryOps)(_.eagerJobs.toDouble),
      "queries.exec_ms" -> sum(queryOps)(_.execMs),
      "queries.scan_amp" -> (if (tableRowsRead > 0) cnt(queryOps, "rows_read") / tableRowsRead else 0.0),
      "spark.jobs" -> sum(ops)(_.jobs.size.toDouble),
      "spark.stages" -> cnt(ops, "spark.stages"),
      "spark.tasks" -> sparkTasks,
      "spark.single_task_stages" -> cnt(ops, "spark.single_task_stages"),
      "spark.task_run_ms" -> cnt(ops, "spark.task_run_ms"),
      "spark.task_cpu_ms" -> taskCpu,
      "spark.gc_ms" -> cnt(ops, "spark.gc_ms"),
      "spark.cpu_util" -> taskCpu / (wallMs * cores),
      "spark.shuffle_read_bytes" -> cnt(ops, "spark.shuffle_read_bytes"),
      "spark.shuffle_write_bytes" -> cnt(ops, "spark.shuffle_write_bytes"),
      "spark.spill_bytes" -> cnt(ops, "spark.spill_bytes"),
      "spark.peak_exec_mem_bytes" -> (0.0 +: ops.map(_.c("spark.peak_exec_mem_bytes"))).max,
      "spark.failed_tasks" -> failedTasks,
      "spark.task_success_ratio" -> (if (sparkTasks > 0) (sparkTasks - failedTasks) / sparkTasks else 1.0),
      "streaming.stage_ms" -> streamMs,
      "streaming.batches" -> st("batches"),
      "streaming.rows_in" -> st("rows_in"),
      "streaming.trigger_ms" -> st("trigger_ms"),
      "streaming.add_batch_ms" -> st("add_batch_ms"),
      "streaming.planning_ms" -> st("planning_ms"),
      "streaming.commit_ms" -> st("commit_ms"),
      "streaming.overhead_ms" -> (if (streamOps.isEmpty) 0.0 else streamMs - st("trigger_ms")),
      "streaming.state_rows" -> streams.map(_.stateRows).sum,
      "streaming.state_mem_bytes" -> streams.map(_.stateMem).sum)
  }

  /** Self time per layer for one operation: the operation's own layer
    * owns what its children (the write and the Spark jobs) do not cover. */
  private def opDetail(t: Tracer, o: OpTrace): Map[String, Any] = {
    val jobsMs = t.jobUnionMs(o, o.start, o.end)
    val self = mutable.LinkedHashMap[String, Double]()
    if (o.execStart != Long.MaxValue) {
      val execEnd = if (o.execEnd > 0) o.execEnd else o.end
      val key = if (o.kind == "query") "queries.exec" else "adapters.write"
      self(key) = o.execMs - t.jobUnionMs(o, o.execStart, execEnd)
      self(opLayer(o.kind)) = o.opMs - o.execMs - t.jobUnionMs(o, o.start, o.execStart)
    } else self(opLayer(o.kind)) = o.opMs - jobsMs
    self("spark") = jobsMs
    Map("name" -> o.name, "kind" -> o.kind, "direction" -> o.direction,
      "op_ms" -> o.opMs, "build_ms" -> o.buildMs, "exec_ms" -> o.execMs,
      "jobs" -> o.jobs.size, "eager_jobs" -> o.eagerJobs, "tables" -> o.tables.toSeq,
      "counters" -> o.c.toMap, "self_ms" -> self.toMap)
  }

  /** direction → operation → Spark job spans, epoch milliseconds. */
  private def spans(t: Tracer): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    def span(id: String, parent: String, name: String, layer: String, s: Long, e: Long) =
      out += Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
        "start_ms" -> s, "end_ms" -> e)
    t.ops.groupBy(_.direction).toSeq.sortBy(_._2.head.start).foreach { case (d, os) =>
      span(s"d:$d", "pass", d, "direction", os.map(_.start).min, os.map(_.end).max)
    }
    t.ops.zipWithIndex.foreach { case (o, i) =>
      span(s"o:$i", s"d:${o.direction}", o.name, opLayer(o.kind), o.start, o.end)
      o.jobs.foreach(j => span(s"j:${j(0)}", s"o:$i", s"job ${j(0)}", "spark", j(1), j(2)))
    }
    out.toSeq
  }
}
