package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Multi-source breadth-first hop distances over an undirected edge
  * list — "how far is every node from the nearest seed", the reach /
  * coverage primitive behind hub-distance analytics, influence radii,
  * and crawl-frontier scheduling.
  *
  * Same driver-coordinated iteration discipline as [[Components]]:
  * each round is ONE shuffle (frontier→neighbor expansion + anti-join
  * against the visited set), lineage is truncated per round through
  * [[org.apache.spark.sql.graft.Bridge.truncate]] (reliable
  * checkpoint on clusters, local blocks in tests, superseded rounds
  * released eagerly), and the convergence scalar rides in the same
  * materialization job as the round itself — no per-row driver work,
  * no collect.
  */
object Bfs {

  /** Rounds the last [[hopDistances]] call actually ran — diagnostic
    * for specs (≤ maxHops; < maxHops when the frontier died early). */
  @volatile private[graft] var lastRounds: Int = 0

  /** BFS hop distance from the nearest seed, bounded at `maxHops` BY
    * CONTRACT: unlike [[Components.connectedComponents]]' loud-failure
    * bound, the cap here is part of the semantics ("within H hops") —
    * nodes further than `maxHops` from every seed are simply absent
    * from the result, and callers label them unreached. The frontier
    * sum (Σ dist of the visited set) strictly increases while any
    * round adds nodes (every new node carries dist ≥ 1), so an
    * unchanged sum is an exact emptiness test fused into the round's
    * own job.
    *
    * @param edges undirected edge list (`srcCol`, `dstCol`), long ids.
    * @param seeds one long column `seedCol`; distance 0. Seeds not
    *   present in the edge list still appear in the result (isolated
    *   seeds are at distance 0 from themselves).
    * @return (node, dist): minimum hop count to any seed, 0 ≤ dist ≤
    *   maxHops, one row per reached node.
    */
  /** Max visited-set row count for which each round's FRONTIER is
    * broadcast into the adjacency join instead of shuffled against it.
    * A visited row is (node, dist) ≈ 16 B + framing — the default 4M
    * rows is a ≤ ~128 MB broadcast relation (the PageRank threshold's
    * rationale). The decision is DATA-adaptive per round, read from
    * the row count FUSED into the round's own materialization: while
    * the reach is broadcastable, a round never exchanges the edge
    * list; once it grows past the gate, rounds fall back to the
    * shuffle join (web-scale frontiers cannot ride a broadcast). */
  private[graft] val BroadcastVisitedDefault = 4L * 1024 * 1024

  def hopDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int,
      broadcastVisited: Long = BroadcastVisitedDefault): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // The cached edge table is the loop's big operand; each round's
    // frontier is a materialized (checkpointed) frame whose size AQE
    // sees, so the per-hop join broadcasts the frontier and the edge
    // cache is scanned in place — no per-hop edge shuffle. (Verified
    // empirically: pre-partitioning + sorting the cache on u costs a
    // full extra shuffle+sort and buys nothing while the frontier
    // stays below the broadcast threshold; past it AQE falls back to
    // a shuffle join on its own.)
    // No distinct on the symmetrized list: a contract-conforming input
    // (each undirected edge once, u ≠ v) cannot produce duplicates by
    // symmetrizing, so the old `.distinct()` was a full edge shuffle +
    // dedup that bought nothing — the per-round `distinct` on the
    // frontier expansion below already collapses whatever fan-out a
    // non-conforming input would add, so correctness never depended on
    // it either (BfsSpec exercises a duplicated-edges input).
    val both = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .unionAll(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var visited = Bridge.truncate(
      seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("dist", lit(0L)),
      Some("dist"))
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      h += 1
      // frontier ≤ visited rows: below the gate, broadcast it so the
      // round scans the edge cache in place (no edge exchange at all);
      // past the gate the plain join shuffles both sides as before
      val frontier0 = visited.df.filter(col("dist") === h - 1)
      val frontier =
        if (visited.rows <= broadcastVisited) broadcast(frontier0) else frontier0
      val newNodes = both
        .join(frontier, col("u") === col("node"))
        .select(col("v").as("node")).distinct()
        .join(visited.df, Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
      val next = Bridge.truncate(visited.df.unionAll(newNodes), Some("dist"))
      visited.release()
      done = next.sum.compareTo(visited.sum) == 0
      visited = next
    }
    both.unpersist()
    lastRounds = h
    visited.df
  }
}
