package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** EXACT interpolated percentiles at scale — the two-pass bucketed
  * alternative to Spark's `percentile()`, whose aggregation buffer
  * holds every distinct value per group (executor-crushing when values
  * are near-continuous and groups are few; see q26 vs q70).
  *
  *   pass 1: a fixed-width value histogram per group — state is
  *     (groups × value-range/width) counters, independent of row
  *     count — plus exclusive prefix counts over that bounded frame,
  *     locating the ONE bucket that holds each target rank;
  *   pass 2: only rows of those target buckets (≤ 2·|qs| buckets per
  *     group) are re-scanned and sorted WITHIN their bucket — a
  *     bucket-bounded sort, never a group sort — and the rank offset
  *     picks the exact boundary values; interpolation is the
  *     `lower + (upper − lower) · frac` form (quantile_cont's).
  *
  * Values at a given rank are deterministic under value ties (equal
  * values are interchangeable at equal ranks). Rank positions
  * `q·(n−1)` are computed in doubles: exact for dyadic q (.25/.5/.75);
  * for non-dyadic q the ±1 ulp on the position only matters when it
  * crosses an integer, i.e. when adjacent values are equal anyway.
  */
object ExactPercentiles {

  /** Exact LOWER weighted median per group — the smallest value whose
    * cumulative weight reaches half the group's total — with the same
    * bounded two-pass shape as [[compute]]: a per-bucket weight
    * histogram (state ∝ buckets, not rows), the crossing bucket found
    * on the bounded bucket frame, and only THAT bucket's rows
    * re-scanned. Entirely integer arithmetic: the crossing test is
    * `2·cum ≥ W`, never a double threshold, so engines cannot disagree
    * at the boundary. `weightCol` must be integer-valued and
    * non-negative. Ties on the value are safe: whichever tied row
    * crosses, the crossing VALUE is the same, and the answer is
    * `min(v)` over crossing rows. */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0)
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("double").as("v"),
      col(weightCol).cast("long").as("w"))
      .withColumn("b", floor(col("v") / bucketWidth).cast("long"))
    // bounded frame (buckets × groups); truncated so the target join
    // below and pass 2's broadcast stop re-expanding it into repeated
    // full scans + aggregations of base (see [[compute]]'s note)
    val hist = base.groupBy("g", "b").agg(sum(col("w")).as("wb"))
      .withColumn("cum_before", coalesce(
        sum(col("wb")).over(Window.partitionBy("g").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("tot", sum(col("wb")).over(Window.partitionBy("g")))
      .transform(Bridge.truncateBounded)
    // monotone crossing: the unique first bucket where 2·cum ≥ W
    val target = hist
      .filter(lit(2) * (col("cum_before") + col("wb")) >= col("tot"))
      .groupBy("g").agg(min(col("b")).as("b"))
      .join(hist, Seq("g", "b"))
      .select(col("g"), col("b"), col("cum_before"), col("tot"))
    val inBucket = base.join(broadcast(target), Seq("g", "b"))
      .withColumn("cum_in", sum(col("w")).over(
        Window.partitionBy("g", "b").orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    inBucket
      .filter(lit(2) * (col("cum_before") + col("cum_in")) >= col("tot"))
      .groupBy("g").agg(min(col("v")).as("wmedian"),
        min(col("tot")).as("total_weight"))
  }

  /** Exact LOWER weighted percentiles per group — [[weightedMedian]]
    * generalized from the 0.5 point to arbitrary RATIONAL ranks: each
    * quantile is (label, num, den) with 0 < num ≤ den, and every
    * crossing test is the integer comparison `den·cum ≥ num·W` —
    * never a double threshold, so engines cannot disagree at a
    * boundary. Same bounded two-pass shape: ONE weight histogram per
    * group serves ALL ranks (state ∝ buckets), then only the ≤ |qs|
    * crossing buckets are re-scanned. Output is wide: `total_weight`
    * plus one `p_<label>` column per rank. `weightCol` must be
    * integer-valued and non-negative. */
  def weightedPercentiles(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String, qs: Seq[(String, Int, Int)],
      bucketWidth: Double): DataFrame = {
    require(qs.nonEmpty && bucketWidth > 0)
    require(qs.forall { case (_, num, den) => num > 0 && num <= den },
      "ranks must satisfy 0 < num/den <= 1")
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("double").as("v"),
      col(weightCol).cast("long").as("w"))
      .withColumn("b", floor(col("v") / bucketWidth).cast("long"))
    // bounded frame — same truncation rationale as [[weightedMedian]]
    val hist = base.groupBy("g", "b").agg(sum(col("w")).as("wb"))
      .withColumn("cum_before", coalesce(
        sum(col("wb")).over(Window.partitionBy("g").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("tot", sum(col("wb")).over(Window.partitionBy("g")))
      .transform(Bridge.truncateBounded)
    val ranks = hist.select(col("g"), col("b"), col("cum_before"),
        col("wb"), col("tot"),
        explode(array(qs.map { case (label, num, den) =>
          struct(lit(label).as("ql"), lit(num.toLong).as("num"),
            lit(den.toLong).as("den"))
        }: _*)).as("t"))
      .select(col("g"), col("b"), col("cum_before"), col("wb"),
        col("tot"), col("t.ql").as("ql"), col("t.num").as("num"),
        col("t.den").as("den"))
    // monotone crossing per (group, rank): first bucket where the
    // integer test passes
    val target = ranks
      .filter(col("den") * (col("cum_before") + col("wb")) >=
        col("num") * col("tot"))
      .groupBy("g", "ql", "num", "den").agg(min(col("b")).as("b"))
      .join(hist, Seq("g", "b"))
      .select(col("g"), col("ql"), col("num"), col("den"), col("b"),
        col("cum_before"), col("tot"))
    // pass 2 re-scans each crossing bucket ONCE even when several
    // ranks land in it (the distinct is on (g, b))
    val needed = target.select("g", "b").distinct()
    val inBucket = base.join(broadcast(needed), Seq("g", "b"))
      .withColumn("cum_in", sum(col("w")).over(
        Window.partitionBy("g", "b").orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perQ = target
      .join(inBucket.select(col("g"), col("b"), col("v"), col("cum_in")),
        Seq("g", "b"))
      .filter(col("den") * (col("cum_before") + col("cum_in")) >=
        col("num") * col("tot"))
      .groupBy("g", "ql").agg(min(col("v")).as("val"),
        min(col("tot")).as("tot"))
    val totals = base.groupBy("g").agg(sum(col("w")).as("total_weight"))
    qs.foldLeft(totals) { case (acc, (label, _, _)) =>
      acc.join(perQ.filter(col("ql") === label)
        .select(col("g"), col("val").as(s"p_$label")), "g")
    }
  }

  /** MAD (median absolute deviation): the inner median of v, then the
    * outer median of |v − med|, both through [[compute]]'s bounded
    * two-pass path. The deviation histogram genuinely cannot run
    * before the inner median is known, so the decomposition is four
    * bounded passes over the (group, value) projection.
    *
    * MEASURED, not assumed: fusing the passes over one persisted
    * projection (DfCache + MEMORY_AND_DISK) was implemented and
    * profiled at sf0.1 (3 runs, warm session) — fused 11.2/5.1/4.3 s
    * vs 8.4/3.6/3.0 s for this direct composition. Column-pruned
    * parquet re-scans of a 2-column projection are cheaper than
    * materializing an InMemoryRelation and paying its codegen
    * boundary on every downstream pass; at 100 TB the comparison
    * only widens (a corpus-sized spillable cache vs pruned columnar
    * scans). So the passes intentionally re-scan storage. The inner
    * median is rounded to `roundMed` decimals before the deviations,
    * mirroring oracles that cross the engine boundary there. */
  def mad(df: DataFrame, groupCol: String, valueCol: String,
      bucketWidthV: Double, bucketWidthD: Double,
      roundMed: Int): DataFrame = {
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("double").as("v"))
    // one row per group, consumed by every scan of the deviation pass:
    // un-truncated, the whole inner-median plan re-expanded inside each
    // of the outer compute()'s base references
    val med = compute(base, "g", "v", Seq(("50", 0.5)), bucketWidthV)
      .select(col("g"), round(col("p_50"), roundMed).as("med"))
      .transform(Bridge.truncateBounded)
    val dev = base.join(broadcast(med), "g")
      .withColumn("adev", abs(col("v") - col("med")))
    compute(dev, "g", "adev", Seq(("50", 0.5)), bucketWidthD)
  }

  /** Per-`groupCol` row: n plus one `p_<label>` column per quantile.
    * `bucketWidth` trades pass-1 state for pass-2 sort size. */
  def compute(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[(String, Double)], bucketWidth: Double): DataFrame = {
    require(qs.nonEmpty && bucketWidth > 0)
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("double").as("v"))
      .withColumn("b", floor(col("v") / bucketWidth).cast("long"))
    // counts/hist are BOUNDED frames (one row per group / per (group,
    // bucket) — never row-count-proportional), and the lazy plan below
    // references them through located/needed/boundary/wide so many
    // times that each reference re-expanded into its own full base
    // scan + aggregation (q76's composed plan reached 84 parquet scans
    // / 110 exchanges before this). truncateBounded pins hist (value-
    // range/bucketWidth buckets per group) to ONE scan + aggregation,
    // and counts re-aggregates the pinned buckets; the deliberate
    // re-scan posture (see [[mad]]'s measured note) applies to the
    // CORPUS-sized base, which stays uncached — pass 2 still re-scans
    // storage.
    val hist = base.groupBy("g", "b").agg(count(lit(1)).as("c"))
      .withColumn("cum_before", coalesce(
        sum(col("c")).over(Window.partitionBy("g").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .transform(Bridge.truncateBounded)
    val counts = hist.groupBy("g").agg(sum(col("c")).as("n"))
    // per (group, quantile): the two boundary ranks and the fraction
    val targets = counts.select(col("g"), col("n"),
      explode(array(qs.map { case (label, q) =>
        struct(lit(label).as("ql"), lit(q).as("q"))
      }: _*)).as("t"))
      .select(col("g"), col("n"), col("t.ql").as("ql"),
        (col("t.q") * (col("n") - 1)).as("pos"))
      .select(col("g"), col("ql"), col("pos"),
        floor(col("pos")).cast("long").as("k_lo"),
        ceil(col("pos")).cast("long").as("k_hi"))
    val ranks = targets
      .select(col("g"), col("ql"), col("pos"),
        explode(array(
          struct(col("k_lo").as("k"), lit("lo").as("side")),
          struct(col("k_hi").as("k"), lit("hi").as("side")))).as("r"))
      .select(col("g"), col("ql"), col("pos"),
        col("r.k").as("k"), col("r.side").as("side"))
    // which bucket holds rank k: equi-join on the group, then the
    // range predicate — both sides bounded (hist: buckets; ranks: 2|qs|)
    val located = ranks.join(hist, Seq("g"))
      .filter(col("cum_before") <= col("k") &&
        col("k") < col("cum_before") + col("c"))
      .select(col("g"), col("ql"), col("pos"), col("k"), col("side"),
        col("b"), col("cum_before"))
    val needed = located.select("g", "b", "cum_before").distinct()
    // pass 2: sort ONLY the target buckets, each bounded by bucket size
    val inBucket = base.join(broadcast(needed), Seq("g", "b"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("g", "b").orderBy("v")).cast("long"))
      .withColumn("grank", col("cum_before") + col("__r") - 1)
    val boundary = located
      .join(inBucket.select(col("g"), col("b"), col("grank"), col("v")),
        Seq("g", "b"))
      .filter(col("grank") === col("k"))
    val perQ = boundary.groupBy("g", "ql", "pos")
      .agg(min(when(col("side") === "lo", col("v"))).as("v_lo"),
        min(when(col("side") === "hi", col("v"))).as("v_hi"))
      .withColumn("val", col("v_lo") +
        (col("v_hi") - col("v_lo")) * (col("pos") - floor(col("pos"))))
    val wide = qs.foldLeft(
      counts.select(col("g"), col("n"))) { case (acc, (label, _)) =>
      acc.join(perQ.filter(col("ql") === label)
        .select(col("g"), col("val").as(s"p_$label")), "g")
    }
    wide
  }
}
