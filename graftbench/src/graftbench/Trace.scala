package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of a traced op: the op itself, a phase inside it
  * (`build`, `action`, a `sinks.*` call) or a Spark job. `op` is shared
  * by every span of one op; times are ns since the run started. */
final case class Span(op: Int, name: String, parent: String, start: Long, end: Long)

/** Per-op counters, summed over whatever the op caused. */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def ++=(o: Counters): Unit = o.v.foreach { case (k, x) => add(k, x) }
}

/** Length of the union of intervals, and of its part inside [lo, hi). */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
  def within(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    union(xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1))
}

/** The traced run's instruments, registered by the benchmark itself: a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener
  * (Catalyst phases), Spark's codegen counters, and Bridge's view of
  * locally-checkpointed RDDs. Spark jobs carry the op id and the phase
  * in local properties; events are drained after every op, outside the
  * timed region, so per-op sums are exact. */
final class Trace(spark: SparkSession, t0Ns: Long) {
  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis() - (System.nanoTime() - t0Ns) / 1000000L

  @volatile private var currentOp = -1
  private val opCounters = new ConcurrentHashMap[Int, Counters]()
  private def counters(op: Int): Counters = opCounters.computeIfAbsent(op, _ => new Counters)
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobInfo = new ConcurrentHashMap[Int, (Int, String, String, Long)]()
  private val jobSpans = new ConcurrentHashMap[Int, Span]()

  private def ns(ms: Long): Long = (ms - t0Ms) * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(Trace.OpKey))).map(_.toInt).getOrElse(currentOp)
      val phase = p.flatMap(x => Option(x.getProperty(Trace.PhaseKey))).getOrElse("")
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobInfo.put(e.jobId, (op, phase, group, e.time))
      e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
      counters(op).synchronized {
        counters(op).add("exec.jobs", 1)
        if (phase == "build") counters(op).add("queries.build_jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.get(e.jobId)).foreach { case (op, phase, group, start) =>
        jobSpans.put(e.jobId, Span(op, s"job ${e.jobId}" + (if (group.nonEmpty) s" [$group]" else ""),
          if (group.nonEmpty) group else phase, ns(start), ns(e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = stageOp.getOrDefault(e.stageInfo.stageId, currentOp)
      counters(op).synchronized(counters(op).add("exec.stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, currentOp)
      val c = counters(op)
      c.synchronized {
        c.add("exec.tasks", 1)
        c.add("exec.task_s", e.taskInfo.duration / 1e3)
        val m = e.taskMetrics
        if (m != null) {
          c.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
          c.add("exec.gc_s", m.jvmGCTime / 1e3)
          c.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Trace.MB)
          c.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / Trace.MB)
          c.add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / Trace.MB)
          c.add("tables.scan_mb", m.inputMetrics.bytesRead / Trace.MB)
          c.add("tables.rows_read", m.inputMetrics.recordsRead.toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    // analysis of a catalog op's plan ran eagerly inside its build and
    // is read there; these are the phases each action runs
    private def record(qe: QueryExecution): Unit = {
      val c = counters(currentOp)
      val phases = qe.tracker.phases
      c.synchronized {
        Seq("analysis" -> "plans.analyze_s", "optimization" -> "plans.optimize_s",
          "planning" -> "plans.plan_s").foreach { case (phase, k) =>
          c.add(k, phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0))
        }
      }
    }
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener); spark.listenerManager.register(qeListener); attached = true
  }
  def detach(): Unit = if (attached) {
    drain(); sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener); attached = false
  }
  def drain(): Unit = Bridge.drainListenerBus(sc, 60000L)

  def beginOp(op: Int): Unit = {
    currentOp = op
    sc.setLocalProperty(Trace.OpKey, op.toString)
  }

  /** Close an op: drain its events, then return its counters together
    * with the spans of its jobs. */
  def endOp(op: Int): (Counters, Seq[Span]) = {
    drain()
    sc.setLocalProperty(Trace.OpKey, null)
    val c = Option(opCounters.remove(op)).getOrElse(new Counters)
    val jobs = jobSpans.asScala.collect { case (id, s) if s.op == op => id -> s }
    jobs.keys.foreach { id => jobSpans.remove(id); jobInfo.remove(id) }
    (c, jobs.values.toSeq.sortBy(_.start))
  }
}

object Trace {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
  val MB = 1024.0 * 1024.0

  /** Codegen compile count and time; static counters, read per op. */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
