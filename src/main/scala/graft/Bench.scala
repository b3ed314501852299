package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** The driver captures only the LAST 2000 chars of stdout; a JSON
    * line longer than that gets decapitated before its last-line
    * parser runs (BENCH_r03: line ~2900 chars, tail starts mid-object,
    * parsed:null). Budget with margin. BenchLineSpec guards this
    * against catalog growth. */
  private[graft] val MaxLine = 1800

  /** Floor on how many of the SLOWEST queries the top-detail tier must
    * keep for a healthy run's value profile (guarded by BenchLineSpec):
    * perf regressions hide in the expensive entries, so the tier is
    * ADAPTIVE — it keeps the largest slowest-N that still fits
    * [[MaxLine]] — and only the sub-noise-floor fast ones fall back to
    * target/bench_full.json. NOTE: [[compactLine]] does NOT enforce
    * this floor at runtime — a production run with unusually wide
    * values can keep fewer entries (the line-length budget wins);
    * the floor is guaranteed only for BenchLineSpec's synthetic
    * healthy-run profile, as a tripwire against catalog growth. */
  private[graft] val TopDetailFloor = 60

  /** `q01_pricing_summary` → `q01`. Every catalog name's prefix before
    * the first underscore is unique (q01–q50, d01–d06, p01–p09,
    * s01–s03, t01–t05, m01–m04, e01–e02); guarded at runtime below. */
  private def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** Fixed in-memory calibration job, timed at the start, middle, and
    * end of the run and reported as `noise_probe_s`: identical work
    * every time, no I/O, no catalog code — so its three timings move
    * ONLY with box contention. BENCH_r09 recorded 459.8 s for code a
    * quiet box runs in 225.7 s, and the correction lived in judge
    * lore; with the probe, a contended run is identifiable from the
    * artifact alone (probe ≫ its ~0.1–0.3 s quiet-box level). */
  private def noiseProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 10000000L, 1L, 32)
      .selectExpr("sum(id % 1000003) AS s", "count(1) AS n")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-query standing times (seconds) from the last adjudicated
    * quiet-box run, checked in at tools/bench_standing.json. An entry
    * whose first timing exceeds 3× its standing retries once in the
    * same session: contention then shows up as (high first, low min)
    * in the `retried` map, a real regression as (high, high). Absent
    * file or entry → no retry (new entries earn a standing at the
    * next round close). */
  private[graft] def loadStandings(path: String = "tools/bench_standing.json")
      : Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val it = node.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
      }
      b.result()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] standings unreadable: ${e.getMessage}")
      Map.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session()
    // Warm the JVM/codegen/scan paths once so per-query timings measure
    // the queries, not first-query JIT + session init. e01/e02 warm-up
    // also materializes the CSV/JSON fixtures OUTSIDE the timed region.
    // Every fixture-backed entry warms up too, so one-off fixture /
    // bucketed-table / Derby writes land outside the timed region on a
    // clean machine (their guards skip the write on the timed pass).
    // The documents/dedup family gets the same treatment: the FIRST
    // documents parquet scan + the text-kernel codegen (shingle/
    // minhash/simhash) otherwise land on whichever d-entry runs first
    // (r8: d01 timed 31.0 s vs 0.38 s warm; d07 drifted
    // 5 → 9.4 → 12.3 s across rounds for the same reason). Warming
    // d01/d02/d03/d07 pins those one-off costs outside the timed
    // region, so per-query diffs measure the operators.
    // The persisted-index entries (s15–s20) build their store fixture
    // once per (session, sfDir): with a cold fixture the FIRST timed
    // run charges the whole build-grow-compact install to the probe
    // (r11: s18 15.5 s cold vs 1.9 s warm probe). Warming
    // them times the recurring operation — the stored-index probe —
    // which is what round-over-round perf diffs should measure.
    Seq("q01_pricing_summary", "e01_csv_ingest", "e02_json_ingest",
        "e03_partitioned_roundtrip", "e07_bucketed_join",
        "e08_stream_sessions", "e09_clustered_scan",
        "e10_jdbc_roundtrip", "e11_zorder_scan", "e12_stream_join",
        "e14_schema_evolution", "e15_orc_roundtrip",
        "e16_corrupt_quarantine", "e29_time_travel",
        "d01_exact_dedup", "d02_minhash_lsh", "d03_simhash",
        "d07_minhash_verify", "d23_bloom_novelty",
        "s15_persisted_ivf", "s16_incremental_pq", "s17_ivf_append",
        "s18_persisted_lsh", "s19_ivf_compact", "s20_ivfpq_adc",
        "e41_stream_txlog", "e42_txlog_feed", "e43_txlog_delete",
        "s22_persisted_text_index", "s23_ivf_delete",
        "e44_txlog_format", "e45_stream_from_txlog",
        "s24_stored_hybrid", "s25_text_delete", "s26_ivfpq_append",
        "s27_ivf_maintain", "e46_txlog_cdf", "e47_txlog_evolve",
        "e48_stream_cdf", "e49_stream_optimize", "e50_txlog_sql_dml",
        "e51_txlog_skipping", "e52_txlog_vacuum", "e53_stream_rate_limit",
        "s28_ivfpq_hybrid", "s29_maintain_mor", "d25_index_delete",
        "e54_compact_stats", "e55_sql_delete", "e56_sql_time_travel",
        "e57_sql_update", "e58_sql_merge", "e59_sql_optimize",
        "e60_sql_history", "e61_stream_sink", "e62_sql_zorder",
        // r16/r17 fixture-backed entries, previously missing from this
        // list (an oversight of the interrupted build round): their
        // `IngestFixtures.once` bodies — multi-verb store builds, DML
        // chains, streaming replays into Derby — ran inside the FIRST
        // timed pass, so the bench charged one-off fixture installs to
        // the per-query timings this list exists to protect (guide
        // §1.4: time the recurring computation). With the builds
        // warmed, the timed pass measures what a reader pays — the
        // read path over the committed store. OPTIMIZATION_r17.md
        // records the before/after numbers for every moved entry.
        "e19_incremental_ingest", "e20_compaction", "e27_partitioned_upsert",
        "e28_exactly_once_sink", "e39_stream_cdc", "d21_persisted_index",
        "e63_sql_restore", "e64_sql_timestamp", "e65_sql_convert",
        "e66_sql_clone", "e67_sql_constraints", "e68_sql_table_changes",
        "e69_bloom_skipping", "e70_sql_add_column",
        "e71_partitioned_convert", "e72_partitioned_write",
        "e73_partition_overwrite", "e74_partition_optimize",
        "e75_sql_repartition", "e76_stream_bytes_limit",
        "e77_sql_drop_column", "e78_sql_rename_column",
        "e79_show_partitions", "e80_partition_evolve").foreach {
      n => SparkEntry.queries.get(n)
        .foreach(f => try f(spark, sfDir).count() catch {
          // a warm-pass failure silently shifts the fixture install
          // back into the first timed run — name it so a broken
          // fixture is visible in the run log, not just as a timing
          // anomaly (the timed pass still measures + reports the
          // entry's own failure)
          case e: Throwable =>
            System.err.println(s"[bench] warm-up $n failed: ${e.getMessage}")
        })
    }
    // Sweep the warm pass's locally-checkpointed snapshots: per-call
    // lineage truncation (PrefixSum chunk ids, d03 fingerprints,
    // ExactPercentiles bounded frames, Triangles blocks…) pins
    // MEMORY_AND_DISK copies the call sites cannot release (the
    // snapshot feeds the returned lazy plan). Once an entry's action
    // has run they are dead weight; unreleased they accumulated into
    // session-wide GC/eviction churn that made later (alphabetically
    // q/s/t) entries measurably slower than fresh-session runs (r17's
    // one-directional 70-entry slowdown). DfCache pins are plain
    // persisted frames — not locally checkpointed — and are untouched.
    val bridge = org.apache.spark.sql.graft.Bridge
    // SPARK_GRAFT_NO_SWEEP=1 disables both sweeps — the A/B knob that
    // isolates the hygiene's own effect from box noise (two adjacent
    // runs, same contention regime). Default: sweep.
    val sweep = !sys.env.get("SPARK_GRAFT_NO_SWEEP").contains("1")
    if (sweep) bridge.unpersistIds(spark.sparkContext,
      bridge.locallyCheckpointedIds(spark.sparkContext))
    // The shared near-dup builds (Jaccard pair set + components) are
    // cached once per (session, dir) and consumed by seven catalog
    // entries. Materialize them HERE, timed separately, so the one-off
    // build cost stops landing on whichever consumer runs first — that
    // attribution drift made per-query diffs across rounds noise.
    val tShared = System.nanoTime()
    try graft.queries.DedupQueries.warmShared(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] shared warm-up failed: ${e.getMessage}")
    }
    val sharedSec = (System.nanoTime() - tShared) / 1e9
    // Sorted keys: hash-map iteration order reshuffles whenever the
    // catalog grows, which both scrambles round-over-round comparisons
    // and moves first-consumer cache effects between queries. A fixed
    // lexicographic order makes BENCH_r{N} diffable per query.
    val standings = loadStandings()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    noiseProbe(spark) // warm the probe's own codegen, untimed
    // Snapshot the truncated frames that must OUTLIVE entries — the
    // shared builds' internals (canonicalDocs' component rounds were
    // fully materialized by warmShared above). Everything locally
    // checkpointed AFTER this point is per-entry garbage, swept
    // between entries (outside every timed region) so entry i's
    // snapshots stop taxing entries i+1…n.
    val keepIds = bridge.locallyCheckpointedIds(spark.sparkContext)
    val probeStart = noiseProbe(spark)
    var probeMid = 0.0
    val retried = Seq.newBuilder[(String, Double)]
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i == ordered.size / 2) probeMid = noiseProbe(spark)
      // noop sink: materializes every output column (count() would let
      // Catalyst prune projection-only queries down to nothing).
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val (t1, ok1) = once()
      // self-adjudication: a first timing 3× over the entry's recorded
      // quiet-box standing retries once immediately — contention reads
      // as (high first, low min), a real regression as (high, high).
      // The 1 s floor keeps sub-second noise from tripling "3×".
      val blownUp = ok1 &&
        standings.get(name).exists(s => t1 > math.max(3.0 * s, 1.0))
      val out = if (blownUp) {
        val (t2, ok2) = once()
        retried += name -> t1
        // a FAILED retry must not erase a passing first measurement
        // (its fast failure latency is not a timing): keep (t1, ok1)
        // and let the retried map record that the retry happened
        if (ok2) (name, math.min(t1, t2), ok1) else (name, t1, ok1)
      } else (name, t1, ok1)
      // between-entry sweep (untimed; see keepIds above)
      if (sweep) bridge.unpersistIds(spark.sparkContext,
        bridge.locallyCheckpointedIds(spark.sparkContext) -- keepIds)
      out
    }
    val probeEnd = noiseProbe(spark)
    val probes = Seq(probeStart, probeMid, probeEnd)
    // Measurement environment, stamped into the artifact itself: r17
    // proved the total moves tens of seconds on the forked JVM's heap
    // alone (8g->16g = -36 s), and that correction lived only in round
    // lore. One short field keeps future runs comparable at a glance.
    val env = s"heap_mb=${Runtime.getRuntime.maxMemory() / (1024L * 1024L)}" +
      s";cpus=${SparkEntry.cpus}"
    // Full precision + full names to a side file for humans/tooling...
    val full = fullLine(results, sharedSec, sfDir, probes, retried.result(),
      env)
    try {
      val out = java.nio.file.Paths.get("target", "bench_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] side file write failed: ${e.getMessage}")
    }
    // ...and a compact line on stdout for the driver.
    println(compactLine(results, sharedSec, sfDir, probes, retried.result(),
      env))
    spark.stop()
  }

  /** At most this many entries in the `retried` map (slowest first-
    * timing first): a fully contended box could retry dozens and blow
    * the line budget; the overflow count still rides along. */
  private[graft] val MaxRetriedShown = 10

  /** At most this many names in the `failed` array: any real failure
    * count is single-digit, but an all-failed run (bad sfDir, broken
    * build) must still emit a parseable line inside the driver tail —
    * `failed_dropped` carries the overflow, bench_full.json the rest. */
  private[graft] val MaxFailedShown = 50

  private def jsonLine(results: Seq[(String, Double, Boolean)],
      queried: Seq[(String, Double, Boolean)], sharedSec: Double,
      sfDir: String, keyOf: String => String,
      fmt: Double => String, noiseProbes: Seq[Double],
      retried: Seq[(String, Double)], env: String): String = {
    // total keeps its round-over-round meaning (all work done once per
    // session): per-query sum PLUS the separately-attributed shared
    // build, which previous rounds counted inside its first consumer.
    // Retried entries count their adjudicated min; calibration probes
    // are excluded (they measure the box, not the catalog).
    val total = results.map(_._2).sum + sharedSec
    val qs = queried.map { case (k, v, _) => "\"" + keyOf(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // A failed query must not pass off its (near-zero) elapsed time
    // as a healthy run: the failure list rides in the same JSON line,
    // over ALL results — capped only in the catastrophic many-failures
    // case (an all-failed 270-entry run would alone blow the 2000-char
    // driver tail; the overflow count rides along and bench_full.json
    // names every failure).
    val allFailed = results.collect { case (k, _, false) => keyOf(k) }
    val failed = allFailed.take(MaxFailedShown)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedOver =
      if (allFailed.size <= MaxFailedShown) ""
      else s""""failed_dropped":${allFailed.size - MaxFailedShown},"""
    val dropped =
      if (queried.size == results.size) ""
      else s""""queries_dropped":${results.size - queried.size},""" +
        s""""queries_file":"target/bench_full.json","""
    val probe =
      if (noiseProbes.isEmpty) ""
      else noiseProbes.map(fmt).mkString(""""noise_probe_s":[""", ",", "],")
    val retryField =
      if (retried.isEmpty) ""
      else {
        val shown = retried.sortBy(-_._2).take(MaxRetriedShown)
          .map { case (k, first) => "\"" + keyOf(k) + "\":" + fmt(first) }
          .mkString("{", ",", "}")
        val over =
          if (retried.size <= MaxRetriedShown) ""
          else s""""retries_dropped":${retried.size - MaxRetriedShown},"""
        s""""retried":$shown,$over"""
      }
    val envF = if (env.isEmpty) "" else s""""env":"$env","""
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","shared_builds":${fmt(sharedSec)},$envF$probe$retryField"queries":$qs,$dropped$failedOver"failed":$failed,"sf":"$sfDir"}"""
  }

  /** The human/tooling side-file line: full names, full precision. */
  private[graft] def fullLine(results: Seq[(String, Double, Boolean)],
      sharedSec: Double, sfDir: String,
      noiseProbes: Seq[Double] = Nil,
      retried: Seq[(String, Double)] = Nil,
      env: String = ""): String =
    jsonLine(results, results, sharedSec, sfDir, identity, _.toString,
      noiseProbes, retried, env)

  /** The driver-facing stdout line: short keys, degrading precision,
    * never longer than [[MaxLine]]. Tiers: per-query map at 3/2/1/0
    * decimals; then the LARGEST slowest-N that fits (1 decimal, with a
    * `queries_dropped` count and a `queries_file` pointer to the full
    * map — the driver's per-query perf diff keeps its signal and loses
    * only its sub-second noise floor); then a summary-only terminal
    * fallback — a parseable total beats a decapitated line the driver
    * reads as parsed:null. Pure function of the results, exposed for
    * BenchLineSpec's growth guard. */
  private[graft] def compactLine(results: Seq[(String, Double, Boolean)],
      sharedSec: Double, sfDir: String,
      noiseProbes: Seq[Double] = Nil,
      retried: Seq[(String, Double)] = Nil,
      env: String = ""): String = {
    // Short keys unless prefixes ever collide (guarded, not assumed).
    val keys = results.map(_._1)
    val keyOf: String => String =
      if (keys.map(shortKey).distinct.size == keys.size) shortKey else identity
    // Locale.ROOT: the f-interpolator uses the default locale, whose
    // decimal separator may be ',' — which would make the line invalid
    // JSON and silently null the driver's perf gate on such JVMs.
    def fixed(digits: Int)(v: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    // sortBy is stable over the name-sorted input: boundary ties break
    // by name, so the kept set is deterministic round over round.
    val slowestFirst = results.sortBy(-_._2)
    def topLine(n: Int): String = {
      val keep = slowestFirst.take(n).map(_._1).toSet
      jsonLine(results, results.filter(r => keep(r._1)), sharedSec, sfDir,
        keyOf, fixed(1), noiseProbes, retried, env)
    }
    // Adaptive top tier: the largest N whose line fits. Line length
    // grows ~monotonically in N and each candidate is cheap to build,
    // so a downward linear scan is exact and costs O(n²) string work
    // on a few-hundred-entry catalog — microseconds, once per run.
    val adaptiveTop = (results.size to 0 by -1).iterator.map(topLine)
      .find(_.length <= MaxLine)
    val summaryOnly = jsonLine(results, Nil, sharedSec, sfDir, keyOf,
      fixed(1), noiseProbes, retried, env)
    val candidates =
      Seq(fixed(3) _, fixed(2) _, fixed(1) _, fixed(0) _)
        .map(jsonLine(results, results, sharedSec, sfDir, keyOf, _,
          noiseProbes, retried, env)) ++
        adaptiveTop :+ summaryOnly
    candidates.find(_.length <= MaxLine).getOrElse(summaryOnly)
  }
}
