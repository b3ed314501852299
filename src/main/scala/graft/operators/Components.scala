package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Connected components over an undirected edge list via min-label
  * propagation — the step that turns near-dup PAIRS into dedup
  * CLUSTERS (keep one canonical doc per component).
  *
  * Each round is one shuffle (neighbor-min aggregation); rounds needed
  * = component diameter, which for near-dup clusters is tiny. The
  * early-stop check is a single aggregate scalar per round — the
  * standard driver-coordinated iteration for 100 TB graphs (same loop
  * GraphX/GraphFrames run internally), with no per-row driver work.
  */
object Components {

  /** Rounds the last [[connectedComponents]] call needed — diagnostic
    * for scale tests (ComponentsSpec pins the growth rate: the
    * neighbor-min + pointer-jump recurrence reaches ~2^k ids in k
    * rounds, so rounds grow LOGARITHMICALLY in component diameter). */
  @volatile private[graft] var lastRounds: Int = 0

  /** @param edges two long columns (`srcCol`, `dstCol`), undirected.
    * @param maxIter loud-failure bound, NOT a tuning knob: the loop
    *   early-stops at convergence, so a generous bound costs nothing
    *   on converged graphs. Propagation reach compounds ~2× per round
    *   (neighbor min + pointer jump), so 60 rounds covers component
    *   diameters far beyond anything a dedup graph can produce —
    *   the sf1 gate found df-capped shingle graphs whose thin chains
    *   exceed the old bound of 20 at only 10× the dev scale.
    * @return (id, component) — component = min node id reachable.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 60): DataFrame = {
    val both = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionAll(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // truncate (not persist): iterative self-reference would
    // otherwise grow the logical plan exponentially — each round must
    // cut lineage, not just cache data. Bridge.truncate picks reliable
    // files or local blocks from the checkpoint dir, and each round
    // releases its superseded predecessor as soon as the next one is
    // materialized (blocks would otherwise pile up until GC notices;
    // reliable files are never reaped by default).
    // Convergence check: min-propagation only ever DECREASES labels,
    // so the label sum strictly decreases until the fixpoint — and the
    // sum comes fused out of each round's materialization job (exact
    // BigInteger accumulation; an empty label set sums to zero).
    var labels = Bridge.truncate(
      both.select(col("a").as("id")).distinct().withColumn("comp", col("id")),
      Some("comp"))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // neighbor minimum ∪ own label
      val neighborMin = both
        .join(labels.df, col("b") === col("id"))
        .groupBy(col("a")).agg(min(col("comp")).as("n_comp"))
      val propagated = labels.df
        .join(neighborMin, col("id") === col("a"), "left_outer")
        .select(col("id"),
          least(col("comp"), coalesce(col("n_comp"), col("comp"))).as("c1"))
      // pointer jump: also adopt the label OF my label (comp values are
      // always node ids within the same component, so this is safe and
      // cuts rounds from O(diameter) to O(log diameter))
      val next = Bridge.truncate(propagated
        .join(labels.df.select(col("id").as("jid"), col("comp").as("jcomp")),
          col("c1") === col("jid"), "left_outer")
        .select(col("id"), least(col("c1"), coalesce(col("jcomp"), col("c1"))).as("comp")),
        Some("comp"))
      // `next` is eagerly materialized: the previous round's blocks
      // have no remaining consumer — free them now, don't wait for GC.
      labels.release()
      converged = next.sum.compareTo(labels.sum) == 0
      labels = next
      iter += 1
    }
    both.unpersist()
    lastRounds = iter
    // A silent stop at maxIter would return labels that LOOK final but
    // aren't (components wider than maxIter hops keep split labels).
    // Fail loudly; callers with genuinely deep graphs raise maxIter.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: not converged after $maxIter rounds " +
        "(component diameter exceeds maxIter); raise maxIter")
    labels.df
  }

  /** Full dedup resolution: every doc mapped to the canonical (min id)
    * member of its near-dup cluster; singletons map to themselves. */
  def canonicalize(allIds: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val comps = connectedComponents(pairs, srcCol, dstCol)
    allIds.select(col(idCol).as("doc"))
      .join(comps, col("doc") === col("id"), "left_outer")
      .select(col("doc").as("doc_id"),
        coalesce(col("comp"), col("doc")).as("canonical_id"))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
  }
}
