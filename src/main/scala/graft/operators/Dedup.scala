package graft.operators

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora (SURVEY.md §2 rows
  * 27–31). Scale posture: every variant reduces to (a) a per-row
  * codegen'd projection and (b) ONE shuffle on a compact key
  * (normalized hash, LSH bucket, or shingle) — no all-pairs work
  * outside candidate buckets, so they survive 100 TB corpora where a
  * naive cross join cannot.
  */
object Dedup {

  /** Whitespace-normalized lowercase form used for exact dedup. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Exact dedup: group by a 124-bit hash of the normalized text —
    * two independent 62-bit packed poly-hash pairs (mults 31/131 and
    * 37/149, mod 2³¹−1) — keeping the smallest id as the canonical
    * representative. One hash shuffle whose key is 16 BYTES regardless
    * of document length: grouping on the text itself would ship the
    * whole corpus as shuffle keys when docs are mostly unique
    * (map-side combine only collapses actual duplicates). Collision
    * odds over d docs ≈ d²/2¹²⁵ — negligible past 10¹⁵ docs. The hash
    * is the engine-portable byte-level poly fold, so oracles replay it
    * with the ascii-fold SQL idiom (byte == codepoint on ASCII). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = normalized(col(textCol))
    def h62(m1: Long, m2: Long): Column =
      graft.functions.PolyHashExpr(norm, m1) +
        shiftleft(graft.functions.PolyHashExpr(norm, m2), 31)
    docs.groupBy(h62(31L, 131L).as("h_a"), h62(37L, 149L).as("h_b"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))
  }

  /** (id, shingle) pairs: distinct word n-gram shingles per doc. */
  def shingleSet(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(
        TextFunctions.wordShingles(TextFunctions.tokens(col(textCol)), n)))
        .as("shingle"))

  /** (id, shingle-hash) pairs: like [[shingleSet]] but carrying 62-bit
    * hashes — an 8-byte shuffle/join key instead of a ~20-char string.
    * Collision odds over d distinct shingles ≈ d²/2⁶³ (negligible even
    * at 10⁹ shingles), and the join/count semantics are unchanged. */
  def shingleHashSet(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.ShingleHashes(col(textCol), n)).as("shingle"))

  /** The df-annotated (doc_id, shingle, df) table — ONE pinned copy
    * per (docs, n) corpus via [[DfCache]], shared by every df-capped
    * dedup path ([[ngramJaccard]]'s bucket chain and
    * [[prefixFilterJaccard]]'s prefix order both read it), so a
    * session computes the corpus shingle+df pass once however many
    * operators consume it. */
  private[graft] def dfAnnotatedShingles(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    DfCache.persistedForSource(docs, s"df-sh:$idCol:$textCol:$n") {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
      shingleHashSet(docs, idCol, textCol, n)
        .withColumn("df", count(lit(1)).over(w))
    }

  /** Exact n-gram Jaccard similarity for candidate pairs that share at
    * least one shingle. The shingle join is the only shuffle; the
    * all-pairs blowup is bounded by shingle document frequency (word
    * n-grams are discriminative; for adversarial corpora add a df cap
    * before the self-join).
    *
    * @param maxDf optional document-frequency cap: shingles appearing
    *   in more than `maxDf` docs are dropped BEFORE pair generation.
    *   This bounds bucket fanout on adversarial/boilerplate-heavy
    *   corpora (sum of df² drives the pair count) at the cost of
    *   computing Jaccard over discriminative shingles only — the
    *   standard stop-shingle trade-off. Any oracle must mirror the cap.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, maxDf: Option[Int] = None): DataFrame = {
    // The shingle set feeds the size aggregate AND the bucket build.
    // Capped path: both consumers filter the shared pinned df table
    // (scans of cached blocks). Uncapped path: no df needed — the raw
    // set is pinned through [[DfCache]] like every other shared build
    // (a bare persist here would orphan one pin per call).
    val sh = maxDf match {
      case Some(cap) =>
        dfAnnotatedShingles(docs, idCol, textCol, n)
          .filter(col("df") <= cap).drop("df")
      case None => DfCache.persistedForSource(docs,
        s"raw-sh:$idCol:$textCol:$n") {
        shingleHashSet(docs, idCol, textCol, n)
      }
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // Pair generation without a self-join: group docs per shingle and
    // emit in-bucket (d1 < d2) combinations — one shuffle on the
    // shingle key instead of join + sort. Bucket fanout is bounded by
    // shingle document frequency (word n-grams are discriminative).
    val buckets = sh.groupBy("shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val pairs = buckets
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "d1")))
      .select(col("d1"), explode(
        slice(col("ids"), col("i") + lit(2), size(col("ids")) - col("i") - lit(1)))
        .as("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("n_shingles", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("n_shingles", "n2"), "d2")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select("d1", "d2", "common", "n1", "n2", "jaccard")
  }

  /** MinHash signatures: k permutation minima over shingle hashes
    * (fused native shingle hashing; bases reduced mod P so the
    * permutation products stay in 62 bits). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.MinHashSigExpr(
        graft.functions.ShingleHashes(col(textCol), shingleN), k).as("sig"))

  /** LSH banding: explode each signature into (doc_id, band, band_sig)
    * bucket keys; docs sharing any band bucket are near-dup candidates
    * ([[minhashCandidates]] self-joins on the compact bucket key — the
    * standard scale path, shuffle ∝ corpus size, not pairs). Also the
    * input to index-tuning reports (bucket-size distributions predict
    * candidate volume).
    *
    * concat (NOT concat_ws): a doc with no shingles has an all-null
    * signature, and null must propagate into the bucket key so such
    * docs never bucket together — concat_ws would silently skip the
    * nulls and give every empty doc the same "" bucket. */
  def minhashBanded(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        concat((0 until rows).flatMap(r =>
          (if (r > 0) Seq(lit(",")) else Nil) :+
            element_at(col("sig"), b * rows + r + 1).cast("string")): _*)
      }: _*)).as(Seq("band", "band_sig")))
      .filter(col("band_sig").isNotNull)

  /** @param salt chunk count for skew salting (1 = off)
    * @param saltMinBucket bucket-size threshold above which a bucket
    *   is salted. Boilerplate-heavy corpora put a large fraction of
    *   docs into ONE band bucket; the plain self-join then lands that
    *   whole bucket — and its |b|² candidate pairs — on one task. With
    *   salting, buckets at/over the threshold are hash-chunked into
    *   `salt` pieces and the join key becomes (band, sig, chunkLo,
    *   chunkHi): each of the ~salt²/2 chunk-pair cells carries
    *   (|b|/salt)² pairs, so no task sees more than a salt²-th of a
    *   hot bucket's volume. The membership predicate ((a,b) chunks ==
    *   (lo,hi) in one of the two orders) makes every pair match at
    *   EXACTLY one cell — no duplicate emission, results identical to
    *   the plain join (DedupSkewSpec asserts both halves). Cold
    *   buckets keep the plain join; the only added cost when nothing
    *   is hot is one map-side-combined bucket-size count. */
  def minhashCandidates(sigs: DataFrame, bands: Int, rows: Int,
      salt: Int = 1, saltMinBucket: Int = Int.MaxValue): DataFrame =
    bandedCandidates(minhashBanded(sigs, bands, rows), salt, saltMinBucket)

  /** Candidate pairs from an ALREADY-BANDED (doc_id, band, band_sig)
    * table — the entry point when the banding lives in a persisted
    * index ([[DedupIndex]]) rather than being recomputed from text:
    * the in-bucket self-join (optionally skew-salted) runs directly on
    * the stored rows, so the corpus text is never rescanned. */
  def bandedCandidates(banded: DataFrame,
      salt: Int = 1, saltMinBucket: Int = Int.MaxValue): DataFrame =
    bucketPairs(banded, Seq("band", "band_sig"), salt, saltMinBucket)(
      Seq(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")))
      .distinct()

  /** The (optionally skew-salted) in-bucket candidate self-join shared
    * by the MinHash and SimHash paths: rows sharing a `keyCols` bucket
    * pair up (a.doc_id < b.doc_id), projected through `out` (columns
    * over the `a`/`b` join aliases). When `salt > 1`, buckets at/over
    * `saltMinBucket` rows are hash-chunked into `salt` pieces and the
    * join key extends to (keys…, chunkLo, chunkHi): each of the
    * ~salt²/2 chunk-pair cells carries (|b|/salt)² pairs, so no task
    * sees more than a salt²-th of a hot bucket's volume. The
    * membership predicate ((a,b) chunks == (lo,hi) in one of the two
    * orders) makes every pair match at EXACTLY one cell — no
    * duplicate emission, results identical to the plain join
    * (DedupSkewSpec asserts both halves for both callers). Cold
    * buckets keep the plain join; the only added cost when nothing is
    * hot is one map-side-combined bucket-size count. */
  private def bucketPairs(banded: DataFrame, keyCols: Seq[String],
      salt: Int, saltMinBucket: Int)(out: Seq[Column]): DataFrame = {
    def keyCond = keyCols.map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _)
    def plainPairs(df: DataFrame): DataFrame =
      df.as("a")
        .join(df.as("b"), keyCond && col("a.doc_id") < col("b.doc_id"))
        .select(out: _*)
    if (salt <= 1) plainPairs(banded)
    else {
      // bucket sizes ride the same bucket key the join uses — one
      // extra map-side-combined aggregation, no broadcast assumption
      // (bucket count scales with the corpus)
      val sizes = banded.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__bsz"))
      val marked = banded.join(sizes, keyCols)
      val cold = marked.filter(col("__bsz") < saltMinBucket)
        .drop("__bsz")
      val hot = marked.filter(col("__bsz") >= saltMinBucket)
        .drop("__bsz")
        .withColumn("__c", pmod(xxhash64(col("doc_id")), lit(salt.toLong)))
      // each row fans out to its `salt` chunk-pair cells (lo, hi)
      def cells(df: DataFrame): DataFrame =
        df.withColumn("__x",
            explode(sequence(lit(0L), lit(salt.toLong - 1L))))
          .withColumn("__lo", least(col("__c"), col("__x")))
          .withColumn("__hi", greatest(col("__c"), col("__x")))
          .drop("__x")
      val ca = cells(hot)
      val cb = cells(hot)
      val hotPairs = ca.as("a")
        .join(cb.as("b"),
          keyCond &&
            col("a.__lo") === col("b.__lo") &&
            col("a.__hi") === col("b.__hi") &&
            col("a.doc_id") < col("b.doc_id") &&
            // exactly-one-cell membership: the pair's true chunk set
            // must BE this cell, in one of its two orders
            ((col("a.__c") === col("a.__lo") &&
              col("b.__c") === col("a.__hi")) ||
             (col("a.__c") === col("a.__hi") &&
              col("b.__c") === col("a.__lo"))))
        .select(out: _*)
      plainPairs(cold).unionAll(hotPairs)
    }
  }

  /** The persisted LSH candidate set (bloomPrefilter path) goes
    * through [[DfCache]]: the operator never sees its consumers'
    * action boundary, so it cannot unpersist — the session-scoped
    * cache bounds the pin to one copy per (input plan, params) instead
    * of a fresh orphan per invocation (e.g. d07 across repeated
    * benchmark rounds in one session). */
  private def cachedPersisted(docs: DataFrame, shingleN: Int, k: Int,
      bands: Int, rows: Int, build: => DataFrame): DataFrame =
    DfCache.persistedForSource(docs,
      s"lsh-cands:$shingleN:$k:$bands:$rows")(build)

  /** The production two-phase near-dup shape: cheap MinHash/LSH
    * candidate generation, then EXACT shingle-Jaccard verification of
    * only the candidate pairs. Unlike [[ngramJaccard]] (whose pair
    * count is Σ df² over shingles), verification cost here follows
    * candidate volume × per-doc shingle count — the LSH bands bound
    * the blowup, the exact verify removes LSH false positives. False
    * negatives (pairs missed by every band) are the standard recall
    * trade-off; tune bands/rows.
    *
    * @param bloomPrefilter when true, a Bloom filter over the
    *   candidate doc ids ([[BloomSemi]]) prunes the shingle set
    *   SCAN-SIDE before the verify joins: docs that reached no LSH
    *   bucket pair — at 100 TB the overwhelming majority — never
    *   enter either join exchange. No false negatives, so the result
    *   is hash-identical; the candidate set is persisted (it is
    *   consumed by the bloom build and the verify join).
    */
  def minhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, rows: Int,
      minJaccard: Double, bloomPrefilter: Boolean = false,
      salt: Int = 1, saltMinBucket: Int = Int.MaxValue): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, shingleN, k)
    val cands0 = minhashCandidates(sigs, bands, rows, salt, saltMinBucket)
    val cands =
      if (bloomPrefilter) cachedPersisted(docs, shingleN, k, bands, rows, cands0)
      else cands0
    // not persisted: all three consumers live in ONE query, where
    // ReusedExchange already shares the shuffled shingle set; a
    // persist here would pin blocks with no owner to unpersist them
    // (the operator never sees the action boundary).
    val shAll = shingleHashSet(docs, idCol, textCol, shingleN)
    // sizes must count EVERY doc's shingles (the Jaccard denominator),
    // so they aggregate the unfiltered set — only the join probe sides
    // below get the bloom prune.
    val sizes = shAll.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val sh =
      if (bloomPrefilter) {
        val mBits = 1 << 17
        val candIds = cands.select(col("d1").as("id"))
          .unionAll(cands.select(col("d2").as("id"))).distinct()
        val bits = BloomSemi.buildBits(candIds, "id", mBits, nHashes = 3)
        shAll.filter(BloomSemi.mightContain(col("doc_id"), bits, mBits, 3))
      } else shAll
    // |A ∩ B| for candidate pairs only: fan each pair out over d1's
    // shingles, then equi-join on (shingle, d2) — both joins are hash
    // joins on real keys, no all-pairs work anywhere.
    val common = cands
      .join(sh.withColumnRenamed("doc_id", "d1"), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
    val out = common
      .join(sizes.select(col("doc_id").as("d1"), col("n_shingles").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n_shingles").as("n2")), "d2")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select("d1", "d2", "common", "n1", "n2", "jaccard")
    out
  }

  /** SimHash fingerprints over word hashes (native kernels; identical
    * values to the HOF chain — see SimHashSpec). */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.SimHashExpr(
        graft.functions.TokenHashes(col(textCol))).as("simhash"))

  /** SimHash candidate pairs: bucket on 4×16-bit bands (any matching
    * band ⇒ candidate, guaranteed to catch hamming ≤ 3), then verify
    * with the exact hamming distance. Template-generated corpora
    * cluster simhashes HARD — one 16-bit band bucket can collect a
    * large doc fraction — so the self-join takes the same salting
    * hooks as [[minhashCandidates]] (measured at sf0.1: the hottest
    * band bucket held 1109 of 5000 docs = 614k pairs on one task).
    *
    * First-shared-band ownership: a pair sharing several bands meets
    * in each of their buckets, but only its LOWEST shared band emits
    * it — the pair row carries both fingerprints, so "every lower
    * band's key differs" is a per-row test on the bucket-key
    * expression. With one row per doc_id in `fps`, each pair is then
    * emitted exactly once on the plain and the salted path, and no
    * pair-volume `distinct` runs: the output is the distinct
    * (d1, d2, hamming) set, d1 < d2. */
  def simhashCandidates(fps: DataFrame, maxHamming: Int,
      salt: Int = 1, saltMinBucket: Int = Int.MaxValue): DataFrame = {
    def bandKey(simhash: Column, b: Int): Column =
      call_function("shiftright", simhash, lit(b * 16)) % lit(65536L)
    val banded = fps.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(bandKey(col("simhash"), _)): _*))
        .as(Seq("band", "band_val")))
    val owned = (0 until 3).map(j =>
      col("band") <= j || bandKey(col("s1"), j) =!= bandKey(col("s2"), j))
      .reduce(_ && _)
    bucketPairs(banded, Seq("band", "band_val"), salt, saltMinBucket)(
      Seq(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        HashFunctions.hamming(col("a.simhash"), col("b.simhash")).as("hamming"),
        col("a.band").as("band"),
        col("a.simhash").as("s1"), col("b.simhash").as("s2")))
      .filter(owned && col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }

  /** Embedding near-dup pairs above a cosine threshold. Candidates
    * come from banded sign-LSH buckets ([[Similarity.lshBandKeys]]):
    * pairs sharing any band's bucket, then exact-cosine verification.
    * Same scale shape as [[Similarity.lshTopK]] — a bucket equi-join,
    * so shuffle cost follows candidate volume, never corpus². Recall
    * is the standard LSH trade-off (tune `bands`/`planesPerBand`);
    * an exact answer at dev scale is the brute-force s01 path. */
  def embeddingNearDups(embs: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, dim: Int, bands: Int = 2, planesPerBand: Int = 8): DataFrame = {
    import graft.Dsl._
    val e = embs.select(col(idCol).as("vid"),
      asDoubleArray(col(vecCol)).as("v"),
      l2Fold(asDoubleArray(col(vecCol))).as("nrm"))
    val keys = Similarity.lshBandKeys(
      e.select(col("vid").as("id"), col("v")), bands, planesPerBand, dim)
    val cands = keys.as("a")
      .join(keys.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cands
      .join(e.select(col("vid").as("id1"), col("v").as("v1"), col("nrm").as("n1")), "id1")
      .join(e.select(col("vid").as("id2"), col("v").as("v2"), col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (dotFold(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Prefix-filtered set-similarity join (AllPairs/PPJoin family,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08): the same exact
    * Jaccard pair set as [[ngramJaccard]], from a candidate generator
    * that indexes only each document's PREFIX tokens instead of every
    * token. Under a global token order (ascending document frequency,
    * ties by token value), two sets with Jaccard ≥ t must share a
    * token inside their first `|x| - ceil(t·|x|) + 1` tokens — so
    * bucketing prefixes alone loses no qualifying pair, and the hot
    * high-df tokens that drive bucket fanout sit at the END of the
    * order, where most documents' prefixes never reach. Candidate
    * volume shrinks as t grows (at t = 0.6 a prefix is ~40% of the
    * doc); bucket pairs also pass an integer length filter
    * (den·n1 ≥ num·n2 ∧ den·n2 ≥ num·n1) before verification.
    *
    * The threshold is the RATIONAL num/den so every gate is integer
    * arithmetic: prefix length `n - (n·num + den - 1) DIV den + 1`,
    * and the final Jaccard test `den·common ≥ num·(n1+n2-common)` —
    * no float boundary, bit-identical on any engine. Verification
    * joins candidates back to per-doc sorted token arrays and counts
    * the exact intersection (`array_intersect`, codegen'd); per-pair
    * cost is bounded by document size, never corpus size.
    *
    * Scale shape: one window shuffle to attach df, one groupBy per
    * doc_id building the (df, token)-sorted array (size, prefix
    * tokens, and verify arrays all derive from it with codegen'd
    * array expressions), one shuffle on prefix tokens for buckets,
    * two hash joins on doc ids for verify. All state is per-token or
    * per-doc; the only pair-proportional cost is the (already length-
    * and prefix-pruned) candidate set.
    *
    * @param maxDf document-frequency cap applied BEFORE everything,
    *   mirroring [[ngramJaccard]]'s stop-shingle preprocessing; any
    *   oracle must mirror it. */
  def prefixFilterJaccard(docs: DataFrame, idCol: String, textCol: String,
      n: Int, num: Int, den: Int, maxDf: Option[Int] = None): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"threshold num/den must be in (0, 1], got $num/$den")
    val shDf = dfAnnotatedShingles(docs, idCol, textCol, n)
    val capped = maxDf.fold(shDf)(cap => shDf.filter(col("df") <= cap))

    // ONE groupBy per doc builds the (df, token)-sorted array; size,
    // prefix tokens, and the verify arrays all derive from it with
    // codegen'd array expressions — no per-row window ranks over the
    // shingle set, and the thing worth keeping hot is one small row
    // per document, not one row per shingle. Persisted via [[DfCache]]
    // (the operator never sees its consumers' action boundary, so it
    // cannot unpersist — the session cache bounds the pin to one copy
    // per input/params).
    val docsArr = DfCache.persistedForSource(docs,
      s"prefix-docs:$idCol:$textCol:$n:$maxDf") {
      capped.groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
          .as("a"))
        .withColumn("n", size(col("a")).cast("long"))
        // no sort: array_intersect doesn't need ordered inputs, and
        // the (df, token) order the struct sort left is deterministic
        .withColumn("toks", transform(col("a"), _.getField("shingle")))
    }

    // Prefix length n - ceil(t·n) + 1 in pure integer arithmetic.
    val plen = (col("n") - expr(s"(n * $num + ${den - 1}) DIV $den") + 1)
      .cast("int")
    val prefixes = docsArr.select(col("doc_id"), col("n"),
      explode(transform(slice(col("a"), lit(1), plen),
        _.getField("shingle"))).as("shingle"))

    // Bucket prefix tokens; in-bucket ordered combinations with the
    // integer length filter (same posexplode+slice idiom as
    // ngramJaccard — no self-join).
    val buckets = prefixes.groupBy("shingle")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
      .filter(size(col("ds")) > 1)
    val cands = buckets
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(col("a"), explode(
        slice(col("ds"), col("i") + lit(2), size(col("ds")) - col("i") - lit(1)))
        .as("b"))
      .filter(col("a.n") * den >= col("b.n") * num &&
        col("b.n") * den >= col("a.n") * num)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()

    // Exact verification against full sorted token arrays.
    val toks = docsArr.select(col("doc_id"), col("toks"), col("n"))
    cands
      .join(toks.select(col("doc_id").as("d1"), col("toks").as("t1"),
        col("n").as("n1")), "d1")
      .join(toks.select(col("doc_id").as("d2"), col("toks").as("t2"),
        col("n").as("n2")), "d2")
      .withColumn("common", size(array_intersect(col("t1"), col("t2"))).cast("long"))
      .filter(col("common") * den >= (col("n1") + col("n2") - col("common")) * num)
      .select(col("d1"), col("d2"), col("common"), col("n1"), col("n2"),
        (col("common").cast("double") /
          (col("n1") + col("n2") - col("common"))).as("jaccard"))
  }
}
