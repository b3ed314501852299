package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Skew hardening for the LSH band join: a deliberately hot bucket
  * (30% of the corpus sharing one signature — the boilerplate-corpus
  * shape) must (a) produce EXACTLY the same candidate set through the
  * salted path, and (b) have its pair volume spread across chunk-pair
  * cells so no task inherits the whole |b|² blowup. */
class DedupSkewSpec extends SparkSpec {
  import spark.implicits._

  private val salt = 8

  /** 1000 docs: 0–299 share one signature (hot bucket, ≥ threshold),
    * 500–509 share another (small bucket — exercises the cold path
    * with real pairs), the rest are effectively unique. */
  private def mkSigs = {
    val rnd = new scala.util.Random(5)
    val rows = (0L until 1000L).map { i =>
      val sig: Seq[Long] =
        if (i < 300) Seq.fill(16)(1L)
        else if (i >= 500 && i < 510) Seq.fill(16)(2L)
        else Seq.fill(16)(rnd.nextLong().abs % 1000000L)
      (i, sig)
    }
    rows.toDF("doc_id", "sig")
  }

  test("salted candidates are identical to the plain join under a hot bucket") {
    val sigs = mkSigs
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(Dedup.minhashCandidates(sigs, bands = 4, rows = 4))
    val salted = pairs(Dedup.minhashCandidates(sigs, bands = 4, rows = 4,
      salt = salt, saltMinBucket = 64))
    assert(salted === plain)
    // both hot-bucket pairs and cold small-bucket pairs are present
    assert(plain.size >= 300 * 299 / 2 + 10 * 9 / 2)
    assert(plain.contains((500L, 501L)))
  }

  test("salting bounds per-cell pair volume: max <= 2x mean, >=10x below the unsalted task") {
    // the chunk assignment IS the operator's: pmod(xxhash64(doc_id), salt)
    val chunks = spark.range(0, 300)
      .select(pmod(xxhash64(col("id")), lit(salt.toLong)).as("c"))
      .groupBy("c").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = (0L until salt.toLong).map(c => chunks.getOrElse(c, 0L))
    // cell (i, j) carries chunk_i x chunk_j pairs (triangle for i == j)
    val cells = for { i <- 0 until salt; j <- i until salt } yield
      if (i == j) sizes(i) * (sizes(i) - 1) / 2 else sizes(i) * sizes(j)
    val mean = cells.sum.toDouble / cells.length
    assert(cells.max <= 2.0 * mean,
      s"hot-bucket cells unbalanced: max ${cells.max} vs mean $mean")
    val unsaltedTask = 300L * 299 / 2
    assert(cells.max * 10 <= unsaltedTask,
      s"salting must cut the hottest task >=10x: ${cells.max} vs $unsaltedTask")
    // sanity: the cells partition the hot bucket's pairs exactly
    assert(cells.sum === unsaltedTask)
  }

  test("salted simhash candidates are identical to the plain join") {
    // 200 docs share one fingerprint (every band hot), 100 pairs of
    // near-dups (hamming 1), the rest unique-ish
    val rnd = new scala.util.Random(17)
    val rows = (0L until 600L).map { i =>
      val fp: Long =
        if (i < 200) 0x1234567890abcdL
        else if (i < 400) (0x0fedcba987654321L ^ (1L << ((i % 40) + 8))) & Long.MaxValue
        else rnd.nextLong().abs
      (i, fp)
    }
    val fps = rows.toDF("doc_id", "simhash")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val plain = pairs(Dedup.simhashCandidates(fps, maxHamming = 12))
    val salted = pairs(Dedup.simhashCandidates(fps, maxHamming = 12,
      salt = salt, saltMinBucket = 64))
    assert(salted === plain)
    assert(plain.size >= 200 * 199 / 2, "hot-bucket pairs present")
  }

  test("simhash candidates emit each pair once whether it shares 1, 2, 3 or 4 bands") {
    // 80 docs on one (negative) fingerprint make every band bucket hot;
    // for each non-empty subset of bands, 6 docs keep exactly those
    // bands of it and randomize the others — so pairs sharing 1, 2, 3
    // and all 4 bands, in every band position, meet in several buckets
    val rnd = new scala.util.Random(23)
    val f0 = 0x9e3779b97f4a7c15L
    def keep(mask: Int): Long = {
      var fp = rnd.nextLong()
      for (b <- 0 until 4 if (mask & (1 << b)) != 0) {
        val m = 0xffffL << (16 * b)
        fp = (fp & ~m) | (f0 & m)
      }
      fp
    }
    val fpRows = Seq.fill(80)(f0) ++
      (1 until 16).flatMap(mask => Seq.fill(6)(keep(mask)))
    val fps = fpRows.zipWithIndex.map { case (fp, i) => (i.toLong, fp) }
      .toDF("doc_id", "simhash")
    // reference: every (pair, band) the bucket join emits, then distinct
    val banded = fps.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        call_function("shiftright", col("simhash"), lit(b * 16)) % lit(65536L)): _*))
        .as(Seq("band", "band_val")))
    def reference(maxHamming: Int) = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        graft.functions.HashFunctions.hamming(col("a.simhash"), col("b.simhash"))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val byId = fpRows.zipWithIndex.map { case (fp, i) => i.toLong -> fp }.toMap
    // the operator's bucket key, in Scala's matching signed semantics
    def key(fp: Long, b: Int) = (fp >> (16 * b)) % 65536L
    def shared(d1: Long, d2: Long) =
      (0 until 4).count(b => key(byId(d1), b) == key(byId(d2), b))
    for (maxHamming <- Seq(64, 20)) {
      val want = rows(reference(maxHamming))
      if (maxHamming == 64)
        assert(want.map { case (a, b, _) => shared(a, b) }.toSet === Set(1, 2, 3, 4),
          "the fixture must hold pairs sharing each band count")
      for ((s, min) <- Seq((1, Int.MaxValue), (salt, 64))) {
        val got = rows(Dedup.simhashCandidates(fps, maxHamming, s, min))
        assert(got.distinct.size === got.size,
          s"salt=$s maxHamming=$maxHamming: a pair was emitted more than once")
        assert(got === want, s"salt=$s maxHamming=$maxHamming")
      }
    }
  }

  test("verified pairs with salting engaged match the unsalted two-phase result") {
    val docs = (0L until 120L).map { i =>
      val text =
        if (i < 40) "the same boilerplate header text repeated on every page " + (i % 2)
        else s"unique document body $i with its own words ${i * 31} and ${i * 17}"
      (i, text)
    }.toDF("doc_id", "text")
    def run(salt: Int, minBucket: Int) =
      Dedup.minhashVerifiedPairs(docs, "doc_id", "text", shingleN = 3,
          k = 16, bands = 4, rows = 4, minJaccard = 0.2,
          salt = salt, saltMinBucket = minBucket)
        .select("d1", "d2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(salt = 8, minBucket = 8) === run(salt = 1, minBucket = Int.MaxValue))
  }
}
