package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** PageRank over an edge list in INTEGER fixed-point — web-graph
  * centrality as a deterministic, oracle-replayable operator (the
  * quality-weighting signal web-corpus training pipelines attach to
  * documents/hosts).
  *
  * Ranks live in `1/q` fixed-point; each iteration is
  * `r'(v) = (dampDen-dampNum)·(q DIV n) DIV dampDen
  *          + dampNum·Σ_{u→v}(r(u) DIV deg(u)) DIV dampDen`
  * with FLOOR division at every step (all operands positive, so Spark
  * `DIV` and DuckDB `//` truncate identically) — a fixed iteration
  * count is therefore bit-identical on any engine, no float
  * accumulation order to worry about.
  *
  * Scale shape: the Pregel-style iterate — join per-node
  * contributions to the edge list on src, aggregate by dst — two hash
  * shuffles per iteration, state one row per node. Edge and degree
  * tables are lineage-truncated ONCE and reused by every iteration;
  * each round's rank table is truncated eagerly and its predecessor's
  * blocks released immediately ([[Components]]' checkpoint
  * discipline — reliable checkpoint when a dir is set, local blocks
  * otherwise), so the logical plan stays constant-size instead of
  * nesting one copy per iteration.
  *
  * Contract: `edges` is the WALK graph — already symmetrized if the
  * source relation is undirected, and every node must have outdegree
  * ≥ 1 (no dangling nodes; symmetrizing guarantees this). Symmetry
  * also guarantees indegree ≥ 1: the per-round join+aggregate only
  * re-emits nodes that RECEIVE an edge, so on a directed graph a
  * node with no in-links would leave the rank table after round one
  * and its outgoing mass would vanish with it — feed directed graphs
  * only if that sink-the-sources semantics is intended. Node ids
  * and the fixed-point q must keep `dampNum · Σ contributions` inside
  * a long: q·n_nodes·dampNum < 2⁶³.
  */
object PageRank {

  /** @param edges   (srcCol, dstCol) long node ids; see contract above
    * @param iters   fixed iteration count (part of the semantics)
    * @param q       fixed-point scale (rank 1.0 ≡ q)
    * @return (v, r) — node id and final fixed-point rank
    */
  /** Max node count for which each round's rank table is BROADCAST
    * into the edge join instead of shuffled/sorted against it. The
    * rank row is (v: long, r: long) ≈ 16 B + framing, so the default
    * 4M nodes is a ≤ ~128 MB broadcast relation — inside the guide's
    * "few hundred MB is fine" band, far under the 8 GB / 512M-row hard
    * cap. The decision is DATA-adaptive (n is already computed for the
    * init rank), not tuned to local[32]: small-enough graphs skip the
    * per-round edge-side sort-merge machinery everywhere; web-scale
    * graphs keep the shuffle join unchanged. */
  private[graft] val BroadcastNodesDefault = 4L * 1024 * 1024

  def fixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, q: Long = 1000000000000L,
      dampNum: Int = 17, dampDen: Int = 20,
      broadcastNodes: Long = BroadcastNodesDefault): DataFrame =
    run(edges, srcCol, dstCol, iters, q, dampNum, dampDen,
      wantDelta = false, broadcastNodes)._1

  /** [[fixedPoint]] plus convergence TELEMETRY: also returns the
    * final-round L1 distance-to-fixpoint `Σ_v |r_iters(v) −
    * r_{iters−1}(v)|` (fixed-point units). A fixed iteration count is
    * the oracle-replayable contract, but a production run needs a
    * runtime signal of how far from converged it stopped — this is
    * that signal, self-reported for the price of ONE extra join+agg
    * over the node-count-sized rank tables (the last two rounds are
    * materialized anyway by the chaining discipline). The ranks are
    * bit-identical to [[fixedPoint]]'s: chain boundaries never change
    * values (PageRankSpec asserts both, and that the delta shrinks as
    * iterations grow). */
  def fixedPointWithDelta(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, q: Long = 1000000000000L,
      dampNum: Int = 17, dampDen: Int = 20,
      broadcastNodes: Long = BroadcastNodesDefault): (DataFrame, Long) = {
    val (df, delta) = run(edges, srcCol, dstCol, iters, q, dampNum, dampDen,
      wantDelta = true, broadcastNodes)
    (df, delta.get)
  }

  private def run(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, q: Long, dampNum: Int, dampDen: Int,
      wantDelta: Boolean, broadcastNodes: Long): (DataFrame, Option[Long]) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping num/den must satisfy 0 < num < den, got $dampNum/$dampDen")
    // Degree table first, NODE-sized: its truncation's row count is
    // the node count, so no count job and no edge-list distinct runs.
    // The symmetrized-input contract (outdegree ≥ 1 for every node)
    // makes the degree keys exactly the node universe, so init ranks
    // read the degree blocks directly.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val Bridge.Truncated(degT, _, n, releaseDeg) = Bridge.truncate(
      e0.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    // Degree folds INTO the edge list once: each iteration then joins
    // one static table instead of two, and the per-edge division
    // `r DIV deg` happens inside the aggregation projection. The
    // node-sized degree table is broadcast under the same threshold as
    // the per-round rank broadcasts, so building the edge snapshot
    // never shuffles the raw edges at all in that regime.
    val bcRanks = n > 0 && n <= broadcastNodes
    val Bridge.Truncated(ed, _, _, releaseED) = Bridge.truncate(
      e0.join(if (bcRanks) broadcast(degT) else degT, "src")
        .select(col("src"), col("dst"), col("deg")))
    // From here the edge snapshot is on disk/blocks — any failure must
    // release it (and the current round) or the checkpoint leaks:
    // reliable-checkpoint files are never reaped by default.
    var release: () => Unit = () => ()
    try {
      require(n > 0, "PageRank on an empty edge list")
      val init = q / n
      val base = (dampDen - dampNum) * init / dampDen

      // Per-round join strategy, decided from the MEASURED node count
      // (guide §3.1 — pick deliberately; the materialized edge blocks
      // carry no size statistics, so the planner alone would never
      // broadcast). Broadcasting the node-sized rank table removes the
      // edge side's per-round exchange AND the sort-merge sorts — each
      // round becomes one map-side hash probe plus a single node-sized
      // exchange for the dst aggregation (partial aggregation runs
      // map-side over the join output). Above the threshold the
      // original shuffle join is kept: a web-scale rank table cannot
      // ride a broadcast.
      def round(r: DataFrame): DataFrame = {
        val rs = r.withColumnRenamed("v", "src")
        ed.join(if (bcRanks) broadcast(rs) else rs, "src")
          .groupBy(col("dst")).agg(sum(expr("r DIV deg")).as("sc"))
          .select(col("dst").as("v"),
            (lit(base) + expr(s"($dampNum * sc) DIV $dampDen")).as("r"))
      }

      // init ranks read the node-sized degree blocks — no edge-list
      // distinct (the degree keys ARE the node universe; see above)
      var ranks: DataFrame = degT.select(col("src").as("v"),
        lit(init).as("r"))
      // telemetry needs r_{iters-1} materialized, so its chains stop
      // one round short and the last round runs separately below
      val chainTo = if (wantDelta) iters - 1 else iters
      var k = 1
      while (k <= chainTo) {
        // Chain up to 5 rounds per materialization: lineage stays
        // shallow enough to compile fast, and one job executes the
        // whole chain instead of paying per-round job latency.
        val step = math.min(5, chainTo - k + 1)
        var chained = ranks
        for (_ <- 1 to step) chained = round(chained)
        // In the broadcast tier the chain has nothing for AQE to adapt
        // — join strategy is fixed, skew rides the broadcast, and the
        // one exchange per round is node-sized — while AQE's
        // stage-by-stage materialization costs a driver scheduling
        // round-trip per exchange per round (on a real cluster that
        // barrier is dearer still). Scope it off for the chain only;
        // the shuffle-join tier keeps AQE (skew-join handling matters
        // there).
        val t =
          if (bcRanks) withAqeOff(ed.sparkSession)(Bridge.truncate(chained))
          else Bridge.truncate(chained)
        release()
        if (k == 1) releaseDeg() // init consumed by the first chain
        ranks = t.df
        release = t.release
        k += step
      }
      if (!wantDelta) (ranks, None)
      else {
        // ranks here = r_{iters-1} (for iters == 1, the r_0 init plan)
        val prev = ranks
        val prevRelease = release
        val Bridge.Truncated(fin, _, _, relFin) = Bridge.truncate(round(prev))
        release = () => { prevRelease(); relFin() } // failure path frees both
        val delta = fin.as("a")
          .join(prev.as("b"), col("a.v") === col("b.v"))
          .agg(sum(abs(col("a.r") - col("b.r")))).head().getLong(0)
        // iters == 1 only: `prev` IS the lazy init plan over the degree
        // blocks, so they must survive through the delta join above
        if (chainTo < 1) releaseDeg()
        prevRelease()
        release = relFin
        (fin, Some(delta))
      }
    } catch {
      case t: Throwable =>
        release()
        releaseDeg() // idempotent: double-release is a no-op
        throw t
    } finally releaseED()
  }

  /** Run `body` with AQE off, restoring the session value after, also
    * when `body` throws. This writes the caller's session conf: it is
    * safe only while catalog queries run sequentially (Bench/Verify;
    * suites fork one JVM), and concurrent callers would race on it. */
  private def withAqeOff[A](sp: org.apache.spark.sql.SparkSession)(
      body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = sp.conf.get(key)
    sp.conf.set(key, "false")
    try body finally sp.conf.set(key, prev)
  }
}
