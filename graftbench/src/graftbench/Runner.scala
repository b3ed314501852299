package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    scratch: String, dataDir: String, benchDir: String, traceOut: String)

/** One op execution: which pass, how long, and whether it failed. */
final case class Sample(op: String, pass: Int, seconds: Double, var ok: Boolean, traced: Boolean)

/** One benchmark run in this JVM: set-up, a cold pass, warm passes for
  * `seconds`, then the metrics as one JSON line on stdout. A closed
  * loop with one client: one op at a time. */
object Runner {
  val Cores = 4
  /** Pass 1, the first after the cold pass, is a warm-up: the JIT is
    * still compiling (it runs 5-10% slower than later passes), so it is
    * timed but left out of the warm statistics. Warm passes start here. */
  val FirstWarm = 2

  def session(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graftbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.scratch}/local")
      .config("spark.sql.warehouse.dir", s"${cfg.scratch}/warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${cfg.scratch}/metastore_db;create=true")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fixed in-memory job, timed at the start, middle and end of a run:
    * it moves only with the machine's speed. */
  def calibrate(spark: SparkSession): Double = {
    val t = System.nanoTime()
    spark.range(0L, 20000000L, 1L, Cores).selectExpr("sum(id % 1000003)", "count(1)").collect()
    (System.nanoTime() - t) / 1e9
  }

  /** Seconds the hypervisor stole from this machine so far. */
  def stealSeconds(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    } finally src.close()
  } catch { case _: Exception => 0.0 }

  def order(seed: Long, pass: Int, ops: Seq[Op], shuffled: Boolean): Seq[Op] =
    if (!shuffled) ops else new Random(seed * 1000003L + pass).shuffle(ops)

  def loadExpected(benchDir: String): Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$benchDir/expected/digests.json"))
    require(node.get("data").asText == DataGen.Version,
      s"expected digests are for data ${node.get("data").asText}, not ${DataGen.Version}")
    val it = node.get("digests").fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText }
    b.result()
  }

  def workload(cfg: Config): Workload = cfg.workload match {
    case "analytics" =>
      new CatalogWorkload(CatalogWorkload.Analytics, cfg.dataDir, loadExpected(cfg.benchDir), warmShared = false,
        nominalPassS = 3.0)
    case "pipeline" =>
      new CatalogWorkload(CatalogWorkload.Pipeline, cfg.dataDir, loadExpected(cfg.benchDir), warmShared = true,
        nominalPassS = 4.6)
    case "etl" =>
      new EtlWorkload(cfg.seed, cfg.scratch, s"graftbench_${ProcessHandle.current().pid()}")
    case other => sys.error(s"unknown workload $other")
  }

  def run(cfg: Config): Map[String, Any] = {
    val uptime0 = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val spark = session(cfg)
    val sc = spark.sparkContext
    val w = workload(cfg)
    val tPrep = System.nanoTime()
    w.prepare(spark)
    val prepareS = (System.nanoTime() - tPrep) / 1e9
    val sharedS = w.setup(spark)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - prepareS
    val env = mutable.LinkedHashMap[String, Any](
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024L * 1024L),
      "jvm_start_s" -> uptime0, "input_gen_s" -> prepareS, "shared_build_s" -> sharedS)
    val t0 = System.nanoTime()
    val ctx = new Ctx(spark, t0)
    val trace = if (cfg.trace) Some(new Trace(spark, t0)) else None
    val tracer = trace.map(t => new Tracer(t, ctx, w, sc))
    val keepIds = Bridge.locallyCheckpointedIds(sc)
    val steal0 = stealSeconds()
    val calib = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.ArrayBuffer.empty[Sample]
    val failures = mutable.ArrayBuffer.empty[String]
    var opSeq = 0
    // classes compiled by the ops of every pass, traced or not
    var runCompiles = 0L

    def runPass(pass: Int, traced: Boolean): Unit = {
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      order(cfg.seed, pass, w.ops, w.shuffled).foreach { op =>
        ctx.op = opSeq
        tracer.foreach(_.begin(opSeq))
        val compiles0 = Trace.codegen()._1
        val s = System.nanoTime()
        val ok = try { op.run(ctx); true } catch {
          case e: Throwable =>
            failures += s"${op.name} pass $pass: ${e.getMessage}"; false
        }
        val e = System.nanoTime()
        runCompiles += Trace.codegen()._1 - compiles0
        samples += Sample(op.name, pass, (e - s) / 1e9, ok, traced)
        tracer.foreach(_.end(opSeq, op.name, pass, s - t0, e - t0, keepIds))
        // between-op hygiene, as a long-lived session does it (untimed)
        Bridge.unpersistIds(sc, Bridge.locallyCheckpointedIds(sc) -- keepIds)
        opSeq += 1
      }
      w.endPass()
    }
    def check(pass: Int, last: Boolean): Unit = {
      tracer.foreach(_.detach())
      w.verify(spark, pass, last).foreach { case (name, why) =>
        failures += s"$name pass $pass: $why"
        samples.filter(x => x.pass == pass && x.op == name).foreach(_.ok = false)
      }
    }

    // cold pass: the first run of every op in the fresh session
    runPass(0, traced = cfg.trace)
    check(0, last = false)
    // calibration after the cold pass, so it cannot warm the session for it
    calib += calibrate(spark)
    // The warm-up pass (its ops still count as attempted), then as many
    // warm passes as fill `seconds` at the workload's nominal pass time, at
    // least two. A fixed count (not a deadline) keeps the sample count,
    // and with it the tail's percentile, the same in every run. The traced
    // run interleaves untraced and traced warm passes as U T T U U T T U
    // ..., so drift weighs on both sides of its overhead, and runs at least
    // four.
    for (pass <- 1 until FirstWarm) runPass(pass, traced = false)
    val warmPasses = math.max(if (cfg.trace) 4 else 2, math.round(cfg.seconds / w.nominalPassS).toInt)
    val lastPass = FirstWarm + warmPasses - 1
    for (pass <- FirstWarm to lastPass) {
      val k = (pass - FirstWarm) % 4
      runPass(pass, traced = cfg.trace && (k == 1 || k == 2))
      if (pass == FirstWarm + warmPasses / 2 - 1) { tracer.foreach(_.detach()); calib += calibrate(spark) }
    }
    check(lastPass, last = true)
    tracer.foreach(_.detach())
    calib += calibrate(spark)
    env("steal_s") = stealSeconds() - steal0
    env("calibration_s") = calib.toSeq
    // the sweeps unpersist asynchronously: let them land, then take the
    // least of a few post-GC readings
    val heap = (1 to 3).map { _ =>
      Thread.sleep(200); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
    w.close()
    spark.stop()

    val attempted = samples.size
    val failed = samples.count(!_.ok)
    def warmPass(xs: Seq[Sample]): Double =
      Stats.sumOfMedians(xs.groupBy(_.op).map { case (k, v) => k -> v.map(_.seconds) })
    val warm = samples.filter(_.pass >= Runner.FirstWarm)
    val untracedWarm = warm.filterNot(_.traced)
    val pooled = untracedWarm.map(_.seconds).toSeq
    val (tailP, tail) = Stats.pooledTail(pooled)
    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "cold_pass_s" -> samples.filter(_.pass == 0).map(_.seconds).sum,
      "warm_pass_s" -> warmPass(untracedWarm.toSeq),
      "op_p50_s" -> Stats.median(pooled),
      "op_tail_s" -> tail,
      "fail_frac" -> Stats.failFrac(failed, attempted),
      "retained_heap_mb" -> heap,
      "attempted" -> attempted, "failed" -> failed,
      "warm_passes" -> warmPasses, "op_samples" -> pooled.size, "op_tail_percentile" -> tailP,
      "failures" -> failures.take(20).toSeq,
      "pass_s" -> (0 to lastPass).map(p => samples.filter(_.pass == p).map(_.seconds).sum),
      "op_cold_s" -> samples.filter(_.pass == 0).map(x => x.op -> x.seconds).toMap,
      "op_warm_median_s" -> untracedWarm.groupBy(_.op).map { case (k, v) => k -> Stats.median(v.map(_.seconds).toSeq) },
      "env" -> env)
    tracer.foreach { t =>
      val tracedWarm = warm.filter(_.traced).toSeq
      val overhead = warmPass(tracedWarm) - warmPass(untracedWarm.toSeq)
      val layers = t.layers(sharedS, runCompiles)
      result("layers") = layers
      result("trace_overhead_s") = overhead
      result("traced_warm_pass_s") = warmPass(tracedWarm)
      t.write(cfg, layers, overhead, samples.toSeq)
    }
    result.toMap
  }
}
