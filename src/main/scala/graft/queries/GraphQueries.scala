package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Graph / sequence analytics (q99+): event-stream Markov transitions
  * and degree-ordered triangle counting over the co-purchase graph.
  *
  * Determinism: transition counts and triangle/wedge counts are exact
  * integers; the only doubles are single IEEE divisions of exact
  * integers (transition probability, clustering coefficient), which
  * both engines compute bit-identically.
  */
object GraphQueries {

  /** First-order Markov transition matrix over each user's event
    * sequence: count of (prev_type → next_type) steps plus the
    * row-normalized transition probability — the "what do users do
    * next" building block for session path analysis.
    *
    * Scale shape: the LEAD window partitions per user, so frame width
    * is bounded by one user's history (never corpus-proportional);
    * the transition count groupBy shuffles |event_types|² keys, and
    * the normalizing window runs over that already-tiny aggregate —
    * the fact table is scanned once and never re-shuffled.
    */
  val q99 = QueryDef(
    "q99_markov_transitions",
    (sp, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val steps = Tables(sp, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
      val counts = steps
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val wt = Window.partitionBy("prev_type")
      counts
        .withColumn("prob",
          col("n").cast("double") / sum(col("n")).over(wt).cast("double"))
        .orderBy("prev_type", "next_type")
    },
    Some("""
      WITH s AS (
        SELECT event_type AS prev_type,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS next_type
        FROM events),
      c AS (
        SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, next_type, n,
        CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE)
          AS prob
      FROM c ORDER BY prev_type, next_type"""))

  /** Triangle count + global clustering coefficient of the co-purchase
    * graph (parts bought together in one order), via
    * [[graft.operators.Triangles]]' degree-ordered edge orientation:
    * every edge points from its lower-(degree, id) endpoint to the
    * higher one, so out-degree is bounded by O(√m) even on skewed
    * graphs and the wedge join (e1.s = e2.s) enumerates each candidate
    * triangle exactly once; closure is one more equi-join against the
    * oriented edge list.
    *
    * Scale shape: edge generation is a self-equi-join on l_orderkey
    * with per-order fanout bounded by order size (≤ C(items, 2));
    * every join is an equi-shuffle (no broadcast-nested-loop
    * anywhere); n_wedges is the closed-form Σ C(deg, 2), exact
    * integers end to end. The (deg, node) rank is compared
    * lexicographically as two columns — packing it into one BIGINT
    * (deg · 2³² + node) collides for node ids past 2³², which the
    * sf~10 key-shifted ids exceed.
    */
  val q100 = QueryDef(
    "q100_triangle_count",
    (sp, dir) => {
      val li = Tables(sp, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
      graft.operators.Triangles.stats(edges)
    },
    Some("""
      WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      d AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
              SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node),
      o AS (SELECT CASE WHEN (ru.deg, ru.node) < (rv.deg, rv.node)
                        THEN e.u ELSE e.v END AS s,
                   CASE WHEN (ru.deg, ru.node) < (rv.deg, rv.node)
                        THEN e.v ELSE e.u END AS t,
                   CASE WHEN (ru.deg, ru.node) < (rv.deg, rv.node)
                        THEN rv.deg ELSE ru.deg END AS td
            FROM e JOIN d ru ON e.u = ru.node JOIN d rv ON e.v = rv.node),
      w AS (SELECT e1.t AS t1, e2.t AS t2
            FROM o e1 JOIN o e2 ON e1.s = e2.s
              AND (e1.td, e1.t) < (e2.td, e2.t)),
      tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
              FROM w JOIN o ON o.s = w.t1 AND o.t = w.t2),
      agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                CAST(SUM(deg) // 2 AS BIGINT) AS n_edges,
                CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
              FROM d)
      SELECT n_nodes, n_edges, n_wedges, n_triangles,
        3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
          AS global_cc
      FROM agg CROSS JOIN tri"""))

  /** Multi-source BFS reach profile of the co-purchase graph: hop
    * distance from every part to the nearest "hub" part (partkey ≡ 0
    * mod 100), summarized as a distance histogram with the unreached
    * complement labeled −1 — the coverage/radius primitive behind
    * "how many hops does influence propagate" and crawl-frontier
    * sizing.
    *
    * Scale shape: [[graft.operators.Bfs.hopDistances]] runs one
    * equi-shuffle per hop (frontier→neighbor expansion + anti-join
    * into the visited set), with per-round lineage truncation and the
    * emptiness scalar fused into the round's own materialization job
    * (the Components loop discipline); the hop bound (6) caps total
    * work at 6 shuffles regardless of graph size, and the final
    * histogram groups the node-cardinality visited set — never the
    * edge list — by a ≤8-value key.
    *
    * Determinism: hop counts are exact integers (BFS layer = min hops
    * is partition-order-free); the oracle's recursive CTE dedups
    * (node, d) pairs per round so its row count is bounded by
    * V·maxHops, and both sides cap at the SAME contractual 6 hops. */
  val q112 = QueryDef(
    "q112_shortest_paths",
    (sp, dir) => {
      val li = Tables(sp, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges0 = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
      // The edge list feeds THREE consumers (the symmetrized adjacency
      // inside hopDistances, the node universe, and through it the seed
      // set) across separate jobs — without truncation each consumer
      // re-runs the lineitem self-join + distinct from parquet.
      // Materialize it once (the Components/Bfs block discipline) and
      // release the edge blocks as soon as the BFS rounds and the
      // node-sized tables are materialized; only node-cardinality
      // blocks outlive the call (the Bfs.visited precedent).
      val Bridge.Truncated(edges, _, _, releaseEdges) = Bridge.truncate(edges0)
      val nodes = Bridge.truncate(
        edges.select(col("u").as("node"))
          .unionAll(edges.select(col("v").as("node"))).distinct()).df
      val seeds = nodes.filter(pmod(col("node"), lit(100L)) === 0)
      val bfs =
        try graft.operators.Bfs.hopDistances(
          edges, "u", "v", seeds, "node", maxHops = 6)
        finally releaseEdges() // BFS rounds + nodes are materialized
      nodes.join(bfs, Seq("node"), "left_outer")
        .select(coalesce(col("dist"), lit(-1L)).as("dist"))
        .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    },
    Some("""
      WITH RECURSIVE li AS (
        SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      nodes AS (SELECT DISTINCT u AS node FROM e),
      seeds AS (SELECT node FROM nodes WHERE node % 100 = 0),
      r(node, d) AS (
        SELECT node, 0 FROM seeds
        UNION
        SELECT e.v, r.d + 1 FROM r JOIN e ON e.u = r.node WHERE r.d < 6),
      bfs AS (SELECT node, CAST(MIN(d) AS BIGINT) AS dist
              FROM r GROUP BY node),
      lab AS (SELECT COALESCE(b.dist, -1) AS dist
              FROM nodes n LEFT JOIN bfs b ON n.node = b.node)
      SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM lab GROUP BY dist ORDER BY dist"""))

  val defs: Seq[QueryDef] = Seq(q99, q100, q112)
}
