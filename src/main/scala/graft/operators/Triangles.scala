package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Distributed triangle counting via degree-ordered edge orientation
  * (the MapReduce-era standard: Suri & Vassilvitskii's "Counting
  * triangles and the curse of the last reducer", adapted to
  * DataFrame equi-joins).
  *
  * Every undirected edge is oriented from its lower-(degree, id)
  * endpoint to the higher one. Under that total order the out-degree
  * of any node is O(√m), so the wedge join — the only superlinear
  * step — generates Σ C(out-deg, 2) candidates, which degree ordering
  * provably minimizes to O(m^1.5) even on power-law graphs where
  * id-ordering would pile C(deg_max, 2) wedges on one hub. Closure
  * testing is one more equi-join against the oriented edge list; no
  * step needs a broadcast-nested-loop or a global sort.
  */
object Triangles {

  /** One-row graph stats over an undirected edge list (columns u, v,
    * integer ids — cast to long internally; each undirected edge
    * present exactly once, u ≠ v): node count, edge count, wedge count
    * Σ C(deg, 2) (closed form, exact), exact triangle count, and the
    * global clustering coefficient 3·triangles / wedges (single IEEE
    * division of exact integers). Eager at call time: the edge /
    * degree / oriented tables materialize during construction.
    *
    * The closure test Bloom-prefilters the wedge stream before its
    * exchange (the guide §3.2 runtime-filter move): the wedge join
    * emits O(m^1.5) candidate pairs — 41M rows / 940 MB at sf0.1,
    * by far the plan's largest shuffle — of which only the triangles
    * survive the closure probe. A bit set over the oriented edges'
    * (s, t) hashes drops definitely-non-closing wedges in the wedge
    * join's own stage; no false negatives, so the exact closure join
    * downstream sees every triangle and the count is unchanged.
    * Sizing is scale-adaptive at 6 bits per oriented edge (~15% fpp
    * at one hash — wedges pruned ~85% for one murmur3 + two array
    * lookups per row), in two tiers:
    *
    *   - `6·m ≤ bloomLitBits` (≤ 2 MiB of words at the default): the
    *     word array rides the plan as a literal and the probe is pure
    *     codegen (`element_at` + mask tests) — the fastest per-row
    *     form, fine for the driver at this size (task binaries are
    *     broadcast once per stage);
    *   - larger graphs up to `6·m ≤ bloomMaxBits` (128 MiB of bits at
    *     the default — ~180M oriented edges): the filter is built
    *     distributed (`stat.bloomFilter` over the 64-bit (s,t) hash)
    *     and shipped as a BROADCAST variable probed by a scalar
    *     function — a multi-MiB literal must not ride every plan
    *     copy / codegen unit, and a broadcast ships once per
    *     executor. Both sides hash (s,t) with the same xxhash64, so
    *     there are still no false negatives.
    *
    * Past `bloomMaxBits` the filter is SKIPPED entirely — an
    * undersized Bloom saturates, prunes nothing, and still costs a
    * hash per wedge, so web-scale graphs fall back to the plain join
    * (where AQE skew handling and the O(m^1.5) bound still apply).
    */
  def stats(edges0: DataFrame, bloomLitBits: Int = 1 << 24,
      bloomMaxBits: Long = 1L << 30): DataFrame = {
    require(bloomLitBits > 0 && bloomLitBits <= (1 << 30),
      s"bloomLitBits must be in (0, 2^30], got $bloomLitBits")
    // Materialize edge list → degrees → oriented list once (Components
    // block discipline): the oriented list feeds both wedge-join sides
    // AND the Bloom build, and the row count from its materialization
    // sizes the filter without an extra pass. Raw edge blocks are
    // released as soon as the derived tables exist.
    val Bridge.Truncated(edges, _, _, releaseEdges) = Bridge.truncate(
      edges0.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v")))
    val deg = Bridge.truncate(
      edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))).df
    // the (deg, node) total order is compared LEXICOGRAPHICALLY as two
    // columns — an earlier packing into deg·2³² + node silently
    // collided once node ids crossed 2³² (two distinct nodes can pack
    // equal, corrupting the orientation's antisymmetry), a bound the
    // sf~10 key-shifted ids actually exceed
    val Bridge.Truncated(oriented, _, m, _) = Bridge.truncate(
      edges
        .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
        .select(
          (col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v"))).as("uFirst"),
          col("u"), col("v"), col("du"), col("dv"))
        .select(
          when(col("uFirst"), col("u")).otherwise(col("v")).as("s"),
          when(col("uFirst"), col("v")).otherwise(col("u")).as("t"),
          when(col("uFirst"), col("dv")).otherwise(col("du")).as("td")))
    releaseEdges() // deg + oriented blocks carry everything downstream
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          (col("e1.td") < col("e2.td") ||
            (col("e1.td") === col("e2.td") && col("e1.t") < col("e2.t"))))
      .select(col("e1.t").as("t1"), col("e2.t").as("t2"))
    val candidates =
      if (m > 0 && 6L * m <= bloomLitBits.toLong) {
        // literal tier: all-Long sizing (a 2^30 cap with a large m
        // would overflow an Int shift loop — ADVICE r17), landed back
        // into an Int only once known ≤ bloomLitBits
        var mBits = 1L << 20
        while (mBits < 6L * m) mBits <<= 1
        val bitsN = math.min(mBits, bloomLitBits.toLong).toInt
        // composite key hashed field-by-field: a struct-valued key
        // would materialize a row PER WEDGE on the probe side
        val bits = BloomSemi.buildBitsMulti(
          oriented, Seq("s", "t"), bitsN, nHashes = 1)
        wedges.filter(BloomSemi.mightContainMulti(
          Seq(col("t1"), col("t2")), bits, bitsN, nHashes = 1))
      } else if (m > 0 && 6L * m <= bloomMaxBits) {
        // broadcast tier: distributed build over the 64-bit (s, t)
        // hash, shipped once per executor. stat.bloomFilter picks its
        // own optimal hash count for the requested bit budget; the
        // probe hashes (t1, t2) with the SAME xxhash64, so a closing
        // wedge can never be dropped.
        val sp = oriented.sparkSession
        val bf = oriented.select(xxhash64(col("s"), col("t")).as("h"))
          .stat.bloomFilter("h", expectedNumItems = m, numBits = 6L * m)
        val bcBf = sp.sparkContext.broadcast(bf)
        val mightClose =
          udf((h: Long) => bcBf.value.mightContainLong(h))
        wedges.filter(mightClose(xxhash64(col("t1"), col("t2"))))
      } else wedges
    val nTri = candidates.join(oriented,
        col("t1") === col("s") && col("t2") === col("t"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodesEdges = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(deg) DIV 2").as("n_edges"),
      sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    nodesEdges.crossJoin(nTri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        (lit(3.0) * col("n_triangles").cast("double") /
          col("n_wedges").cast("double")).as("global_cc"))
  }
}
