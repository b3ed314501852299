package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.graft.Bridge

/** Turns the traced run's raw instruments into spans and layer sums:
  * per op, then per pass, then the mean over traced warm passes. */
final class Tracer(t: Trace, ctx: Ctx, w: Workload, sc: SparkContext) {
  private var active = false
  private var codegen0 = (0L, 0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** (op name, pass, counters) for every traced op. */
  private val records = mutable.ArrayBuffer.empty[(String, Int, Counters)]

  def attach(): Unit = { t.attach(); active = true }
  def detach(): Unit = { t.detach(); active = false }

  def begin(op: Int): Unit = if (active) {
    t.beginOp(op)
    codegen0 = Trace.codegen()
    ctx.spans = Some(mutable.ArrayBuffer.empty)
    ctx.counters = Some(new Counters)
  }

  def end(op: Int, name: String, pass: Int, start: Long, end: Long, keepIds: Set[Int]): Unit =
    if (active) {
      val (c, jobs) = t.endOp(op)
      val codegen1 = Trace.codegen()
      val phases = ctx.spans.get.toSeq
      c ++= ctx.counters.get
      ctx.spans = None
      ctx.counters = None
      def s(ns: Long) = ns / 1e9
      def jobsIn(p: Span) = Intervals.within(jobs.map(j => (j.start, j.end)), p.start, p.end)
      c.add("op_s", s(end - start))
      c.add("codegen.compiles", (codegen1._1 - codegen0._1).toDouble)
      c.add("codegen.compile_s", s(codegen1._2 - codegen0._2))
      val pinned = Bridge.locallyCheckpointedIds(sc) -- keepIds
      c.add("bridge.pinned_rdds", pinned.size.toDouble)
      c.add("bridge.pinned_mb", sc.getRDDStorageInfo.filter(i => pinned(i.id))
        .map(i => i.memSize + i.diskSize).sum / Trace.MB)
      phases.foreach { p =>
        val d = p.end - p.start
        p.name match {
          case "build" =>
            c.add("queries.build_s", s(d)); c.add("span.build_self_s", s(d - jobsIn(p)))
          case "action" => c.add("span.action_self_s", s(d - jobsIn(p)))
          case sink =>
            c.add(sink + "_s", s(d))
            if (sink == "sinks.write_jdbc" || sink == "sinks.upsert_jdbc")
              c.add("sinks.install_s", s(d - jobsIn(p)))
        }
      }
      c.add("span.jobs_s", s(Intervals.union(jobs.map(j => (j.start, j.end)))))
      if (phases.exists(_.name.startsWith("sinks."))) c.add("sinks.jdbc_rows", w.jdbcRows(name).toDouble)
      spans += Span(op, name, "", start, end)
      spans ++= phases
      spans ++= jobs
      records += ((name, pass, c))
    }

  private def meanOverPasses(rs: Seq[(String, Int, Counters)]): Map[String, Double] = {
    val passes = rs.map(_._2).distinct
    val total = new Counters
    rs.foreach(r => total ++= r._3)
    if (passes.isEmpty) Map.empty else total.v.map { case (k, x) => k -> x / passes.size }.toMap
  }

  /** Per-layer metrics for one pass (mean over traced warm passes),
    * every name present even where the workload never calls the layer;
    * `codegen.run_compiles` is the run's total over all its ops. */
  def layers(sharedBuildS: Double, runCompiles: Long): Map[String, Double] = {
    val m = meanOverPasses(records.filter(_._2 >= Runner.FirstWarm).toSeq)
    val taskS = m.getOrElse("exec.task_s", 0.0)
    val opS = m.getOrElse("op_s", 0.0)
    Tracer.LayerMetrics.map { k =>
      k -> (k match {
        case "dedup.shared_build_s" => sharedBuildS
        case "codegen.run_compiles" => runCompiles.toDouble
        case "exec.core_busy" => if (opS > 0) taskS / (opS * Runner.Cores) else 0.0
        case _ => m.getOrElse(k, 0.0)
      })
    }.toMap
  }

  /** The trace file: spans, per-op and per-workload layer sums. */
  def write(cfg: Config, layers: Map[String, Double], overheadS: Double, samples: Seq[Sample]): Unit = {
    val cold = meanOverPasses(records.filter(_._2 == 0).toSeq)
    val perOp = records.groupBy(_._1).map { case (op, rs) =>
      op -> Map("cold" -> meanOverPasses(rs.filter(_._2 == 0).toSeq),
        "warm" -> meanOverPasses(rs.filter(_._2 >= Runner.FirstWarm).toSeq))
    }
    val doc = scala.collection.immutable.ListMap(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
      "layers_per_warm_pass" -> scala.collection.immutable.TreeMap(layers.toSeq: _*),
      "layers_cold_pass" -> scala.collection.immutable.TreeMap(cold.toSeq: _*),
      "trace_overhead_s" -> overheadS,
      "ops" -> scala.collection.immutable.TreeMap(perOp.toSeq: _*),
      "samples" -> samples.map(x => Map("op" -> x.op, "pass" -> x.pass, "s" -> x.seconds,
        "ok" -> x.ok, "traced" -> x.traced)),
      "spans" -> spans.map(x => Map("op" -> x.op, "name" -> x.name, "parent" -> x.parent,
        "start_s" -> x.start / 1e9, "end_s" -> x.end / 1e9)))
    val f = new java.io.File(cfg.traceOut)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, Json(doc) + "\n")
  }
}

object Tracer {
  /** Every per-layer metric, named `layer.metric` after the module. */
  val LayerMetrics: Seq[String] = Seq(
    "queries.build_s", "queries.build_jobs",
    "plans.analyze_s", "plans.optimize_s", "plans.plan_s",
    "codegen.compiles", "codegen.compile_s", "codegen.run_compiles",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.task_cpu_s",
    "exec.core_busy", "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb", "exec.gc_s",
    "tables.scan_mb", "tables.rows_read",
    "bridge.pinned_rdds", "bridge.pinned_mb",
    "dedup.shared_build_s",
    "sinks.read_json_s", "sinks.write_jdbc_s", "sinks.upsert_jdbc_s", "sinks.read_jdbc_s",
    "sinks.jdbc_rows", "sinks.install_s")
}
