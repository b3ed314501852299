package graft

import org.apache.spark.sql.functions.col

/** Physical-plan shape assertions for the properties SURVEY.md §5
  * promises — pushdown, pruning, broadcasts, top-k, shuffle counts.
  * These fail loudly if a refactor silently degrades a plan.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Catalog.byName(name).build(spark, dir).queryExecution.executedPlan.toString

  private def shuffles(p: String): Int = "Exchange".r.findAllIn(p).length

  test("q02 filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"))
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).get
    assert(!read.contains("l_comment") && !read.contains("l_shipinstruct"))
  }

  test("q05 star join broadcasts the dimension chain") {
    val p = plan("q05_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"expected >=3 broadcast joins:\n${p.take(2000)}")
  }

  test("q03 top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q03_join_agg_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("p01 sampling never reads the text column") {
    val p = plan("p01_stratified_sample")
    assert(!p.contains("text"), "sampling summary must prune the text column")
  }

  test("p07 fixed-k sample reads only id/stratum columns") {
    val p = plan("p07_topk_sample")
    assert(!p.contains("text"))
  }

  test("d01 exact dedup is a single aggregation shuffle plus the output sort") {
    val p = plan("d01_exact_dedup")
    assert(shuffles(p) <= 3, s"unexpected extra shuffles:\n${p.take(2000)}")
  }

  test("d01 shuffles 16-byte hash keys, never the normalized text") {
    val p = plan("d01_exact_dedup")
    // the grouping keys are aliased `_groupingexpression` longs fed by
    // the native poly-hash — a string key would mean the whole corpus
    // text rides the shuffle again
    assert(p.contains("graft_polyhash"),
      s"group-by must key on the native text hash:\n${p.take(2000)}")
    assert(p.contains("hashpartitioning(_groupingexpression"),
      s"aggregation shuffle must key on the hash projection:\n${p.take(2000)}")
    assert(!p.contains("norm_text"),
      s"the normalized text must not survive into the shuffle:\n${p.take(2000)}")
  }

  test("q07/q21 rank-limit filters push a map-side partial top-k below the exchange") {
    // low-cardinality window partitions are safe here ONLY because of
    // this rewrite — if a refactor loses the rank filter shape, the
    // partial WindowGroupLimit disappears and each task sorts a fifth
    // of the table again
    for (q <- Seq("q07_window_rank", "q21_topk_per_group")) {
      val p = plan(q)
      val modes = "WindowGroupLimit[^\n]*".r.findAllIn(p)
        .map(_.split(", ").last).toSet
      assert(modes == Set("Partial", "Final"),
        s"$q expected partial+final WindowGroupLimit, got $modes:\n${p.take(2000)}")
    }
  }

  test("q60 rolling distinct: no per-row set maintenance, chunked windows only") {
    // the difference-array decomposition replaced the sliding
    // collect_set (an imperative aggregate Spark re-evaluates O(frame)
    // per row) with running sums — if collect_set reappears, the 100×
    // per-row set work is back; and every remaining window must
    // partition on a chunk id, never a whole 5-value event type
    val p = plan("q60_rolling_distinct")
    assert(!p.contains("collect_set"),
      s"q60 must not rebuild a set per row:\n${p.take(2000)}")
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toList
    assert(specs.nonEmpty && specs.forall(_.contains("__chunk")),
      s"window partitioned below shuffle parallelism:\n${specs.mkString("\n")}")
  }

  test("q67 cumulative share never windows a whole low-cardinality partition") {
    val p = plan("q67_pareto_abc")
    val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toList
    assert(specs.nonEmpty && specs.forall(_.contains("__chunk")),
      s"window partitioned below shuffle parallelism:\n${specs.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"),
      s"per-flag totals must broadcast:\n${p.take(2000)}")
  }

  test("p23 best-fit packer: one hash exchange, in-partition sorts only") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " "))
          .cast("long").as("n_tokens"))
    val p = graft.operators.Pipeline.packBestFit(docs, "source", "doc_id",
      "n_tokens", maxTokens = 256, maxOpenBins = 4)
      .queryExecution.executedPlan.toString
    // the secondary sort must stay partition-local: any global Sort
    // here would mean the packer serialized the corpus through one
    // task order instead of one task per group-hash partition
    assert(shuffles(p) === 1, s"expected exactly the group hash exchange:\n$p")
    val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(p).toList
    assert(globalSorts.isEmpty, s"global sort in packer plan:\n$globalSorts")
  }

  test("d07 bloom prefilter prunes the shingle probe side before the verify join") {
    val p = plan("d07_minhash_verify")
    assert(p.contains("pmod(hash(doc_id"),
      s"expected the bloom membership test on the shingle scan:\n${p.take(3000)}")
  }

  test("s03 routing broadcasts centroids to the query side") {
    val p = plan("s03_ivf_ann")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q42 histogram reads only the aggregated column") {
    val read = "ReadSchema: [^\n]*".r.findFirstIn(plan("q42_histogram")).get
    assert(read.contains("o_totalprice") && !read.contains("o_orderpriority"))
  }

  test("q46 column profile is a single scan of orders") {
    val p = plan("q46_column_profile")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"profile must read orders once, not per column:\n${p.take(2000)}")
  }

  test("e03 partitioned read prunes to the lang=en directory") {
    val p = plan("e03_partitioned_roundtrip")
    val pf = "PartitionFilters: [^\n]*".r.findFirstIn(p)
    assert(pf.exists(_.contains("lang")),
      s"expected a lang partition filter:\n${p.take(2000)}")
  }

  test("e09 clustered scan pushes the user_id band filter into the parquet scan") {
    val p = plan("e09_clustered_scan")
    val pf = "PushedFilters: [^\n]*".r.findFirstIn(p)
    assert(pf.exists(s => s.contains("GreaterThanOrEqual(user_id,100)")
        && s.contains("LessThan(user_id,200)")),
      s"expected the id band in PushedFilters:\n${p.take(2000)}")
  }

  test("e11 z-ordered scan pushes BOTH band filters into the parquet scan") {
    // default maxMetadataStringLength (100) truncates the scan line
    // before the ts predicates — widen it for this render
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val pushed = try plan("e11_zorder_scan")
      finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert(pushed.contains("GreaterThanOrEqual(user_id,2)")
        && pushed.contains("LessThan(user_id,10)")
        && pushed.contains("GreaterThanOrEqual(ts,")
        && pushed.contains("LessThan(ts,"),
      s"expected both bands in PushedFilters:\n${pushed.take(3000)}")
  }

  test("e07 bucketed join elides both join-side exchanges") {
    val p = plan("e07_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"merge hint must pin SMJ:\n${p.take(2000)}")
    // without buckets: 2 join exchanges + aggregate + output sort = 4
    assert(shuffles(p) <= 2,
      s"bucketed join must not shuffle its inputs:\n${p.take(3000)}")
  }

  test("e15 band filter is pushed into the ORC scan") {
    val p = plan("e15_orc_roundtrip")
    // the ORC reader must see the o_totalprice predicate, same contract
    // as the parquet path — a full-scan-then-filter would be the bug
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"ORC scan lost its pushed filter:\n${p.take(2000)}")
  }

  test("q58 sketch estimate join broadcasts the d*w counter table") {
    val p = plan("q58_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"counter table (constant d*w rows) must broadcast:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not be a global window sort:\n${p.take(2000)}")
  }

  test("d05 candidates come from the bucket equi-join, not an all-pairs join") {
    val p = plan("d05_embedding_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"d05 must not plan an all-pairs join:\n${p.take(2000)}")
  }

  test("e25 point filter on the bucket column prunes to one bucket") {
    val p = plan("e25_bucket_pruned_scan")
    assert(p.contains("SelectedBucketsCount: 1 out of 8"),
      s"expected bucket pruning on the o_custkey equality:\n${p.take(3000)}")
  }

  test("q78 top-10 skew keys compile to TakeOrderedAndProject, not a global sort") {
    val p = plan("q78_join_skew")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit 10 must be a per-partition heap:\n${p.take(2000)}")
  }

  test("q74 correlation matrix reads lineitem exactly once") {
    val p = plan("q74_corr_matrix")
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1,
      s"the one-pass claim requires a single lineitem scan:\n${p.take(2000)}")
  }

  test("d03 simhash candidates run no aggregate keyed on the pairs") {
    val pairKeyedAgg = "\\w*Aggregate\\(keys=\\[d1#\\d+L?, d2#".r
    // detector control: a plain distinct over (d1, d2) is caught
    val control = spark.range(3).select(col("id").as("d1"), col("id").as("d2"))
      .distinct().queryExecution.executedPlan.toString
    assert(pairKeyedAgg.findFirstIn(control).nonEmpty, control)
    val p = plan("d03_simhash")
    assert(pairKeyedAgg.findFirstIn(p).isEmpty,
      s"first-band ownership must replace the pair distinct:\n${p.take(3000)}")
  }

  test("p16 quota allocation plans no Window") {
    val p = plan("p16_quota_sample")
    assert(!p.contains("Window"),
      s"the counts frame needs one aggregate, not windows:\n${p.take(2000)}")
  }

  test("d18 dedup funnel reads documents exactly once") {
    // tree walk, not plan text: the near-dup stage reads the session's
    // cached components build, whose printed InMemoryRelation shows a
    // documents scan that d18 itself never runs
    import org.apache.spark.sql.execution.FileSourceScanExec
    val p = Catalog.byName("d18_dedup_funnel").build(spark, dir)
      .queryExecution.sparkPlan
    val scans = p.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "documents.parquet") => s
    }
    assert(scans.size == 1,
      s"raw and exact counts must share one documents scan:\n${p.toString.take(3000)}")
  }

  test("s08 PQ argmin partially aggregates before its exchange") {
    val p = plan("s08_pq_encode")
    assert(p.contains("partial_min(struct("),
      s"min(struct) must map-side combine:\n${p.take(2000)}")
  }

  test("q101 t-digest partially aggregates before its exchange") {
    val p = plan("q101_tdigest_quantiles")
    assert(p.contains("partial_graft_tdigest_quantiles"),
      "digest must map-side combine: the shuffle carries O(compression) " +
        s"serialized digests, never raw rows:\n${p.take(2000)}")
  }

  test("q104 HLL rollup map-side combines both levels and broadcasts the exact side") {
    val p = plan("q104_hll_rollup")
    assert(p.contains("partial_graft_hll_sketch"),
      s"level-1 sketch must map-side combine (2+2^p bytes per partial):\n${p.take(2000)}")
    assert(p.contains("partial_graft_hll_merge"),
      s"level-2 merge must map-side combine:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row exact side must broadcast:\n${p.take(2000)}")
  }

  test("q105 CMS rollup: broadcast hash probe join, top-k never a global sort") {
    val p = plan("q105_cms_rollup")
    assert(p.contains("partial_graft_cms_sketch"),
      s"level-1 sketch must map-side combine:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 keys must be a partial top-k, not a global sort:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("NestedLoop"),
      "the 1-row merged sketch must join as a broadcast HASH join — a " +
        "foldable join key would degrade it to a nested-loop join:\n" +
        p.take(2000))
  }

  test("q106 Bloom rollup map-side combines both levels and broadcasts the probes") {
    val p = plan("q106_bloom_rollup")
    assert(p.contains("partial_graft_bloom_sketch"),
      s"level-1 sketch must map-side combine (m/8 bytes per partial):\n${p.take(2000)}")
    assert(p.contains("partial_graft_bloom_merge"),
      s"level-2 merge must map-side combine:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("NestedLoop"),
      "the 20-row probe panel must join as a broadcast HASH join on the " +
        s"constant non-foldable key, never a nested loop:\n${p.take(2000)}")
  }

  test("d23 Bloom probe is codegen'd scan-side arithmetic, never the fallback scalar") {
    val p = plan("d23_bloom_novelty")
    assert(p.contains("element_at"),
      s"probe must compile to literal-array element_at lookups:\n${p.take(2000)}")
    assert(!p.contains("graft_bloom_contains"),
      "the per-row deserializing BloomContains must never reach the " +
        s"shingle-cardinality hot path:\n${p.take(2000)}")
    assert(p.contains("partial_sum"),
      s"per-doc containment counts must map-side combine:\n${p.take(2000)}")
  }

  test("q107 MinHash group join map-side combines both levels, broadcast pair join") {
    val p = plan("q107_minhash_group_join")
    assert(p.contains("partial_graft_minhash_group"),
      s"level-1 signature must map-side combine (O(k) per partial):\n${p.take(2000)}")
    assert(p.contains("partial_graft_minhash_group_merge"),
      s"level-2 merge must map-side combine:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("NestedLoop"),
      "the 5-row signature pair join must be a broadcast HASH join on " +
        s"the constant non-foldable key:\n${p.take(2000)}")
  }

  test("q108 HLL set ops map-side combine and broadcast the pair join") {
    val p = plan("q108_hll_setops")
    assert(p.contains("partial_graft_hll_sketch"),
      s"per-type sketch must map-side combine:\n${p.take(2000)}")
    assert(p.contains("partial_graft_hll_merge"),
      s"pair-union merge must map-side combine:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("NestedLoop"),
      "the 5-row sketch pair join must be a broadcast HASH join on " +
        s"the constant non-foldable key:\n${p.take(2000)}")
  }

  test("no catalog query plans a cartesian/nested-loop join outside declared baselines") {
    // Declared baselines: s01 scores every (query, corpus) pair by
    // definition (broadcast query side, corpus streamed once); s03
    // routes queries against a broadcast table of ~√N centroids —
    // bounded replication, not corpus². Everything else must join on
    // a real key.
    // s04 votes over s01's exact top-k (same declared baseline).
    // s05 is s01's range variant: same broadcast-queries × corpus scan.
    // s06 measures the LSH index AGAINST s01's exact baseline, so the
    // exact side's scan is the same declared baseline.
    // s07 is s01's MIPS twin: same declared broadcast-queries baseline.
    // s08 broadcasts a labels-sized PQ codebook to every row (the
    // argmin needs all codewords); s09 broadcasts the 10 query tokens.
    // s10 evaluates IVF against the exact baseline — both declared
    // shapes (centroid broadcast + brute-force reference) appear.
    // s12 scores via broadcast codeword lookups and evaluates against
    // the declared brute-force baseline — both shapes are bounded.
    // s13 measures multi-probe LSH AGAINST s01's exact baseline, so
    // the exact side's scan is the same declared baseline as s06's.
    // s14 broadcasts the 10 quantized queries against the coded corpus
    // and evaluates against the same declared brute-force baseline.
    // s15 routes the landed queries against the STORED centroids —
    // s03's declared broadcast shape read back from parquet; s16
    // encodes against the stored codebook — s08's declared broadcast
    // argmin over |codebook| candidates. s17/s19 probe the grown/
    // compacted store through the same routing; s20 adds the per-query
    // ADC LUT — queries × |codebook| codeword distances, broadcast —
    // s12's declared lookup-table shape against the stored families.
    // q100's one crossJoin stitches TWO ONE-ROW AGGREGATES (graph
    // stats × triangle count — Triangles.stats' final select); every
    // data-sized join in it is an equi-join. (Latent until r8: the r7
    // sweep aborted on the events analysis error before reaching
    // q100, so the allowance was never exercised.)
    // s21's ONLY all-pairs site is its vector arm = s01's declared
    // brute-force baseline (broadcast 10-row query set × corpus scan);
    // the lexical arm is equi-join-only, asserted by the dedicated
    // s21 plan test above. s23 probes through the same probeIvf
    // routing as s15/s17/s19 (queries × stored centroids, broadcast);
    // its tombstone subtraction is a broadcast HASH anti-join on
    // n_id, not an all-pairs site. s24's vector arm probes through
    // the same probeIvf routing as s15/s17/s19/s23 (queries × stored
    // centroids, broadcast, dimension-sized); its lexical arm is
    // equi-join-only (asserted by the dedicated s24 plan test below).
    // s28's vector arm is s20/s26's declared IVFPQ shape (broadcast
    // centroid routing + broadcast per-query ADC LUT over the stored
    // families); its lexical arm is equi-join-only (dedicated s28
    // plan test below). s29 probes the maintained store through the
    // same probeIvf routing as s15/s17/s19/s23/s27.
    val allow = Set("s01_cosine_topk", "s03_ivf_ann", "s04_knn_classify",
      "s05_radius_search", "s06_recall_report", "s07_mips_topk",
      "s08_pq_encode", "s09_maxsim", "s10_ivf_recall",
      "s12_pq_adc_search", "s13_multiprobe_recall", "s14_sq8_recall",
      "s15_persisted_ivf", "s16_incremental_pq", "s17_ivf_append",
      "s19_ivf_compact", "s20_ivfpq_adc", "s21_hybrid_search",
      "s23_ivf_delete", "s24_stored_hybrid", "s26_ivfpq_append",
      "s27_ivf_maintain", "s28_ivfpq_hybrid", "s29_maintain_mor",
      "q100_triangle_count")
    val offenders = sweptPlans.collect {
      case (name, Left(err)) => s"$name (build threw $err)"
      case (name, Right(p)) if !allow(name) &&
        (p.contains("BroadcastNestedLoopJoin") ||
          p.contains("CartesianProduct")) => name
    }
    assert(offenders.isEmpty,
      s"unexpected all-pairs join in: ${offenders.mkString(", ")}")
  }

  test("no catalog query plans a Window with an empty partition spec") {
    // An unpartitioned Window is a single-task global sort — the scale
    // smell the q58/p10 constant-key convention exists to prevent (a
    // deliberately tiny window gets a constant NON-FOLDABLE partition
    // key, so WindowExec's "No Partition Defined" warning never fires
    // and never interleaves into the driver-captured bench tail). A
    // Window plan line prints three top-level bracket groups
    // ([exprs], [partitionSpec], [orderSpec]); an empty partition spec
    // drops the middle group, leaving two.
    val offenders = sweptPlans.collect {
      case (name, Right(p)) if unpartitionedWindowLines(p).nonEmpty =>
        s"$name: ${unpartitionedWindowLines(p).head.trim.take(120)}"
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window in: ${offenders.mkString("; ")}")
  }

  /** One plan-build pass over the whole catalog, shared by the
    * catalog-wide sweeps (building every entry's plan dominates their
    * cost). A build that throws is recorded, not skipped — in r7 one
    * analysis error aborted a sweep mid-iteration, silently skipping
    * every query after it. */
  private lazy val sweptQE
      : Seq[(String, Either[String, org.apache.spark.sql.execution.QueryExecution])] =
    Catalog.all.map { q =>
      try q.name -> Right(q.build(spark, dir).queryExecution)
      catch { case scala.util.control.NonFatal(e) =>
        // NonFatal: an OOM or ControlThrowable must abort the suite,
        // not masquerade as a plan offender
        q.name -> Left(e.getClass.getSimpleName)
      }
    }

  private lazy val sweptPlans: Seq[(String, Either[String, String])] =
    sweptQE.map { case (name, qe) =>
      name -> qe.flatMap { q =>
        try Right(q.executedPlan.toString)
        catch { case scala.util.control.NonFatal(e) =>
          Left(e.getClass.getSimpleName)
        }
      }
    }

  /** The 2^53 decimal-cliff rule as a catalog-wide invariant (sf1
    * gate finding, SURVEY §4): a SUM over a decimal with scale > 2
    * has integer representation value·10^scale, which crosses the
    * double mantissa at corpus-level magnitudes — Spark and DuckDB
    * then round the conversion differently in the last ulp. Every
    * such sum must round to money grain (scale ≤ 2) BEFORE its
    * double cast (the Dsl.revSum/revTaxSum helpers); this detector
    * flags any `CAST(<contains SUM> : DECIMAL(p, s>2) AS DOUBLE)` in
    * an entry's analyzed plan, so a NEW entry can never silently
    * reintroduce the cliff at some SF. */
  private def decimalCliffCasts(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    plan.collectWithSubqueries { case node =>
      node.expressions.flatMap(_.collect {
        case c: Cast
            if c.dataType == DoubleType &&
              c.child.dataType.isInstanceOf[DecimalType] &&
              c.child.dataType.asInstanceOf[DecimalType].scale > 2 &&
              c.child.exists {
                case ae: AggregateExpression =>
                  ae.aggregateFunction.isInstanceOf[Sum]
                case _ => false
              } =>
          c.toString
      })
    }.flatten
  }

  /** Sites exempt from the cliff sweep, each with a boundedness proof:
    * the rule targets CORPUS-scale sums; a sum whose term count is
    * pinned by a query-side constant can never reach 2^53/10^scale.
    * - s09_maxsim: the scale-6 sum runs over one rounded maxsim per
    *   QUERY id in the doc (≤ 5 terms of ≤ 1.0 each by the vec_id<10
    *   query-set construction) — sum·10^6 ≤ 5·10^6 ≪ 2^53 at any SF,
    *   and rounding it to scale 2 would coarsen the rank order the
    *   entry exists to compute. */
  private val cliffExempt = Set("s09_maxsim")

  test("no entry casts an unrounded scale>2 decimal sum to double (2^53 cliff)") {
    val offenders = sweptQE.collect {
      case (name, Right(qe))
          if !cliffExempt(name) && decimalCliffCasts(qe.analyzed).nonEmpty =>
        s"$name: ${decimalCliffCasts(qe.analyzed).head.take(140)}"
    }
    assert(offenders.isEmpty,
      s"decimal-cliff casts (round to scale<=2 before the double cast, " +
        s"see Dsl.revSum): ${offenders.mkString("; ")}")
    // the detector must catch the broken shape the sf1 gate found...
    import org.apache.spark.sql.functions._
    val broken = spark.range(10).select(
      sum(col("id").cast(org.apache.spark.sql.types.DecimalType(12, 4)))
        .cast("double").as("s"))
    assert(decimalCliffCasts(broken.queryExecution.analyzed).nonEmpty,
      "detector failed to flag an unrounded scale-4 sum cast")
    // ...and pass the sanctioned rounded form
    val fixed = spark.range(10).select(
      round(sum(col("id").cast(org.apache.spark.sql.types.DecimalType(12, 4))), 2)
        .cast("double").as("s"))
    assert(decimalCliffCasts(fixed.queryExecution.analyzed).isEmpty,
      "detector must not flag the round-to-money-grain form")
  }

  /** Plan lines of Window execs whose partition spec is empty. A
    * window expression prints as `windowspecdefinition(partCols...,
    * orderCols..., specifiedwindowframe(...))` where order entries
    * carry a sort direction (` ASC`/` DESC`) and partition entries
    * don't — so a spec whose args before the frame are all
    * sort-directed (or absent) is unpartitioned. (Bracket-group
    * counting on the `Window [..], [..], [..]` form is ambiguous: a
    * partitioned window with an empty ORDER spec also prints two
    * groups.) */
  private def unpartitionedWindowLines(plan: String): Seq[String] = {
    def specHasPartition(spec: String): Boolean = {
      // args of windowspecdefinition up to the frame, split at depth 0
      val i = spec.indexOf("specifiedwindowframe")
      val beforeFrame = if (i < 0) spec else spec.take(i)
      var depth = 0
      val args = scala.collection.mutable.ArrayBuffer.empty[StringBuilder]
      args += new StringBuilder
      beforeFrame.foreach {
        case '(' => depth += 1; args.last.append('(')
        case ')' => depth -= 1; args.last.append(')')
        case ',' if depth == 0 => args += new StringBuilder
        case c => args.last.append(c)
      }
      args.map(_.toString.trim).filter(_.nonEmpty)
        .exists(a => !a.contains(" ASC") && !a.contains(" DESC"))
    }
    plan.linesIterator.filter { l =>
      val node = l.dropWhile(c => !c.isLetter)
      node.startsWith("Window ") || node.startsWith("Window[")
    }.filter { l =>
      val specs = "windowspecdefinition\\(".r.findAllMatchIn(l).map { m =>
        l.drop(m.end)
      }
      specs.exists(s => !specHasPartition(s))
    }.toSeq
  }

  test("q103 per-group sketch top-k partially limits below the exchange") {
    val p = plan("q103_kmv_overlap_join")
    // the rank<=k filter must compile to WindowGroupLimit with a
    // Partial mode instance BEFORE the shuffle (the q07/q21 shape):
    // no whole group's hash set ever sorts in one task
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n${p.take(3000)}")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined,
      s"expected a map-side partial group limit:\n${p.take(3000)}")
    // the pairwise stage must be an equi-join, not a cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t16 bloom prefilter prunes the train side at the scan") {
    val p = plan("t16_decontamination")
    // the eval-hash bloom membership test (pmod(hash(h ...)) chain)
    // must sit in a Filter over the train-side scan, before the join
    // exchange - the scan-prune that makes the 100 TB shape work
    assert(p.contains("pmod(hash(h"),
      s"expected the bloom membership test on the train scan:\n${p.take(3000)}")
    // only doc_id/text are read from documents; the wide lang/url
    // metadata never loads
    "ReadSchema: [^\n]*".r.findAllIn(p).foreach { read =>
      assert(!read.contains("lang") && !read.contains("url"), read)
    }
  }

  test("e31 drift scoring runs over post-aggregate rows only") {
    val p = plan("e31_stream_drift")
    // the trailing-baseline merge + cdf probe are window/projection
    // work over the per-(type, hour) sink table - row counts
    // proportional to windows, never raw events; a join here would
    // mean the detector re-reads the stream
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"drift stage must not join raw data:\n${p.take(3000)}")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected the running baseline window:\n${p.take(3000)}")
  }

  test("q94 pushes both event-type filters and fuses aggs in one window") {
    val p = plan("q94_sliding_agg_join")
    assert("PushedFilters: \\[IsNotNull\\(event_type\\), EqualTo\\(event_type,(purchase|click)\\)\\]"
      .r.findAllIn(p).length === 2, s"expected both pushed scans:\n$p")
    assert(!p.contains("Join"), "sliding agg join must not plan a join")
    // both trailing aggregates ride ONE Window operator over one sort
    assert("Window \\[".r.findAllIn(p).length === 1)
    assert(!p.contains("props"), "scan must prune the wide props column")
  }

  test("q109 CMS join-size: map-side sketch combine, broadcast pair join, no nested loop") {
    val p = plan("q109_cms_join_size")
    assert(p.contains("partial_graft_cms_sketch"),
      s"per-type sketches must map-side combine:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("NestedLoop"),
      "the 5-row sketch pair join must be a broadcast HASH join on the " +
        s"constant non-foldable key, never a nested loop:\n${p.take(2000)}")
  }

  test("t17 perplexity shuffles only hash/count keys and broadcasts the vocab scalar") {
    val p = plan("t17_bigram_perplexity")
    // every aggregation/join exchange carries 8-byte hashes, doc ids,
    // or counts — if the raw text ever reaches a shuffle the fused-
    // kernel shape has regressed to string keys (the d01/t06 lesson)
    val exchanges = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toList
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(!e.contains("text"),
      s"text column must never ride a shuffle:\n$e"))
    assert(p.contains("BroadcastHashJoin") && !p.contains("NestedLoop"),
      s"the 1-row vocab scalar must broadcast-hash join:\n${p.take(2000)}")
  }

  test("ANALYZE TABLE statistics drive the broadcast decision without hints") {
    // the CBO surface a SQL-first user reaches: a catalog table's
    // COMPUTE STATISTICS must register a sizeInBytes the planner can
    // use to pick a broadcast join on its own (no broadcast() hint,
    // no hint() call) when the side is under the threshold
    val tbl = "graft_cbo_nation"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.sources.IngestFixtures.clearWarehouseDir(spark, tbl)
    Tables(spark, dir, "nation").write.saveAsTable(tbl)
    spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
    val stats = spark.sql(s"DESCRIBE EXTENDED $tbl")
      .filter(col("col_name") === "Statistics").select("data_type")
      .collect().headOption.map(_.getString(0))
    assert(stats.exists(_.contains("bytes")),
      s"ANALYZE must register table statistics, got $stats")
    val joined = Tables(spark, dir, "customer")
      .join(spark.table(tbl), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").count()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"stats-known small table must broadcast without a hint:\n${p.take(2000)}")
  }

  test("d24 substring scan shuffles 8-byte window hashes, never the text") {
    val p = plan("d24_substring_dedup")
    val exchanges = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toList
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(!e.contains("text"),
      s"text column must never ride a shuffle:\n$e"))
    // the island merge must be partitioned per doc, not a global sort
    assert(p.contains("windowspecdefinition(doc_id"),
      s"span merge must window per doc:\n${p.take(2000)}")
  }

  test("q110 sample rollup map-side combines both sketch levels") {
    val p = plan("q110_sample_rollup")
    assert(p.contains("partial_graft_sample_sketch"),
      s"level-1 sample sketches must map-side combine (O(k) partials):\n${p.take(2000)}")
    assert(p.contains("partial_graft_sample_merge"),
      s"level-2 merge must map-side combine:\n${p.take(2000)}")
    assert(!p.contains("NestedLoop"),
      s"no nested-loop joins in the rollup:\n${p.take(2000)}")
  }

  test("p25 DSIR scoring broadcasts both LM tables and cuts rank map-side") {
    val p = plan("p25_dsir_selection")
    // the fixed 64k-bucket feature space is the whole point: the LM
    // count table and the totals row must BROADCAST, keeping the
    // scoring join shuffle-free at any corpus size
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"lm + totals must both broadcast:\n${p.take(2000)}")
    val modes = "WindowGroupLimit[^\n]*".r.findAllIn(p)
      .map(_.split(", ").last).toSet
    assert(modes == Set("Partial", "Final"),
      s"expected partial+final WindowGroupLimit, got $modes:\n${p.take(2000)}")
    val exchanges = "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p).toList
    exchanges.foreach(e => assert(!e.contains("text"),
      s"text column must never ride a shuffle:\n$e"))
  }

  test("p24 priority sample pushes a map-side partial top-k below the exchange") {
    // the O(k)-per-stratum mergeable-reservoir claim IS this plan
    // shape: rank<=k over the priority ordering must compile to
    // partial+final WindowGroupLimit (the q07/q21 contract)
    val p = plan("p24_priority_sample")
    val modes = "WindowGroupLimit[^\n]*".r.findAllIn(p)
      .map(_.split(", ").last).toSet
    assert(modes == Set("Partial", "Final"),
      s"expected partial+final WindowGroupLimit, got $modes:\n${p.take(2000)}")
    assert(!p.contains("text"), "sampling must prune the text column")
  }

  test("s21 lexical arm is an inverted-list broadcast join, vector arm broadcasts queries") {
    // the BM25 arm must join the corpus tf table against a BROADCAST
    // query-term dictionary (postings-sized intermediate, never
    // queries×corpus), and the only nested-loop join allowed is the
    // vector arm's broadcast of the 10-row query set (s01's shape)
    val p = plan("s21_hybrid_search")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected broadcast dictionary + stats joins:\n${p.take(2000)}")
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"lexical arm must never go nested-loop ($bnl found)")
    assert(t18NoTextShuffle(p), "text column must never ride a shuffle")
  }

  test("s24 stored hybrid probes two persisted indexes, never a corpus file") {
    // the production RAG shape: BOTH arms read their stored index's
    // pruned partitions — neither documents.parquet nor
    // embeddings.parquet may appear anywhere in the scan set
    val p = plan("s24_stored_hybrid")
    assert(!p.contains("documents.parquet"),
      s"lexical arm must read the stored text index only:\n${p.take(2000)}")
    assert(!p.contains("embeddings.parquet"),
      s"vector arm must read the stored IVF index only:\n${p.take(2000)}")
    assert(!p.contains("doclen"),
      "no corpus-proportional doc-length scan in the lexical arm")
    assert(p.contains("s24_text_") && p.contains("s24_ivf_"),
      "both persisted stores must appear in the scan set")
  }

  test("s28 IVFPQ hybrid: both arms stored-index-only, ADC codes partition-pruned") {
    // s24's contract on the big-corpus vector arm: neither corpus
    // parquet appears in any scan; the vector arm reads the pqposts
    // code lists (partition-pruned) and touches full-precision
    // postings only for the shortlist re-rank
    val p = plan("s28_ivfpq_hybrid")
    assert(!p.contains("documents.parquet"),
      s"lexical arm must read the stored text index only:\n${p.take(2000)}")
    assert(!p.contains("embeddings.parquet"),
      s"vector arm must read the stored IVFPQ index only:\n${p.take(2000)}")
    assert(p.contains("s28_text_") && p.contains("s28_pq_"),
      "both persisted stores must appear in the scan set")
    assert(p.contains("pqposts__"),
      "the ADC stage must read the stored PQ code lists")
  }

  test("e51 data skipping: filter-disjoint segments are pruned before the scan") {
    import org.apache.spark.sql.sources
    // building the entry's plan lands its fixture; then audit the
    // format relation the entry reads through
    plan("e51_txlog_skipping")
    val fp = graft.sources.IngestFixtures.fingerprint(s"$dir/orders.parquet")
    val store = graft.sources.IngestFixtures.path(s"e51_store_$fp")
    val rel = graft.sources.txlog.TxLogRelation(spark.sqlContext, store,
      Some(graft.sources.TxLog.latestVersion(store).get), None)
    val kept = rel.keptSegments(Array(sources.EqualTo("ingest_day", 2L)))
    assert(kept === Seq("write__seg000002"),
      s"stats must prune three of four range-disjoint segments, got $kept")
    val p = rel.scanDf(Array("o_orderstatus", "o_totalprice"),
        Array(sources.EqualTo("ingest_day", 2L): sources.Filter))
      .queryExecution.executedPlan.toString
    Seq("write__seg000000", "write__seg000001", "write__seg000003")
      .foreach(seg => assert(!p.contains(seg),
        s"the scan opened stats-pruned segment $seg"))
    assert(p.contains("write__seg000002"))
  }

  test("e54 stats survive OPTIMIZE: the compacted segment is prunable again") {
    import org.apache.spark.sql.sources
    plan("e54_compact_stats") // lands the fixture
    val fp = graft.sources.IngestFixtures.fingerprint(s"$dir/orders.parquet")
    val store = graft.sources.IngestFixtures.path(s"e54_store_$fp")
    // the compaction carried a merged sidecar forward
    val st = graft.sources.TxLog.segmentStats(store, "compact__seg2")
    assert(st.exists(_.get("ingest_day").contains(("0", "1", "long"))),
      s"compacted segment must carry the union of retired ranges, got $st")
    val rel = graft.sources.txlog.TxLogRelation(spark.sqlContext, store,
      Some(graft.sources.TxLog.latestVersion(store).get), None)
    // a FOLDED day scans only the compacted segment
    assert(rel.keptSegments(Array(sources.EqualTo("ingest_day", 1L))) ===
      Seq("compact__seg2"))
    // a FRESH day prunes the compacted segment itself
    assert(rel.keptSegments(Array(sources.EqualTo("ingest_day", 3L))) ===
      Seq("write__seg000004"))
    val p = rel.scanDf(Array("o_orderstatus", "o_totalprice"),
        Array(sources.EqualTo("ingest_day", 3L): sources.Filter))
      .queryExecution.executedPlan.toString
    assert(!p.contains("compact__seg2"),
      "the scan opened the stats-pruned compacted segment")
    assert(p.contains("write__seg000004"))
  }

  test("t18 keyness: one corpus-proportional shuffle, totals broadcast") {
    val p = plan("t18_keyness")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"language totals and corpus total must broadcast:\n${p.take(2000)}")
    assert(t18NoTextShuffle(p), "text column must never ride a shuffle")
  }

  private def t18NoTextShuffle(p: String): Boolean =
    "Exchange hashpartitioning\\([^\n]*".r.findAllIn(p)
      .forall(e => !e.contains("text#"))
}
