package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.HashFunctions
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Deduplication suite over the documents/embeddings tables
  * (SURVEY.md §2 rows 27–31).
  */
object DedupQueries {

  /** Exact dedup via a 124-bit hash of the normalized text (16-byte
    * shuffle key, never the corpus itself — [[Dedup.exact]]). The
    * oracle replays both 62-bit poly-hash pairs with the ascii-fold
    * idiom, so a Spark/DuckDB hash divergence breaks the gate. */
  val d01 = QueryDef(
    "d01_exact_dedup",
    (sp, dir) => {
      Dedup.exact(Tables(sp, dir, "documents"), "doc_id", "text")
        .select("rep_id", "n_copies")
        .orderBy("rep_id")
    },
    Some {
      def fold(m: Int): String =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, CAST(len(nt) AS INT)),
             i -> CAST(ascii(substr(nt, i, 1)) AS BIGINT))),
           (a, b) -> (a * $m + b) % 2147483647)"""
      s"""
      WITH norm AS (SELECT doc_id,
          lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
        FROM documents),
      h AS (SELECT doc_id,
          ${fold(31)} + (${fold(131)} << 31) AS h_a,
          ${fold(37)} + (${fold(149)} << 31) AS h_b
        FROM norm)
      SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
      FROM h GROUP BY h_a, h_b
      ORDER BY rep_id"""
    })

  /** The word-trigram shingle + 62-bit-hash pipeline, in DuckDB SQL
    * (ascii() per char == byte-level hashing on this ASCII corpus). */
  private[queries] def shingleHashSql: String = """
      toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(w) < 3 THEN []
                    ELSE list_transform(generate_series(1, CAST(len(w) - 2 AS INT)),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS s
             FROM toks),
      hs AS (SELECT doc_id,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, CAST(len(s) AS INT)),
                    i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
                  (a, b) -> (a * 31 + b) % 2147483647)
                + (list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(generate_series(1, CAST(len(s) AS INT)),
                      i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
                    (a, b) -> (a * 131 + b) % 2147483647) << 31)) AS h
             FROM sh)"""

  /** The MinHash(16)+LSH(4×4) candidate chain in DuckDB SQL, shared by
    * d02 and d07: CTEs `hl` → `sigs` → `banded` → `cands` (requires the
    * [[shingleHashSql]] prefix in the same WITH). Same LCG-derived
    * permutation constants as the Spark kernel. */
  private def minhashCandSql: String = {
    val perms = HashFunctions.minhashPerms(16)
    val sigCols = perms.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hl, h -> ((h % 2147483647) * $a + $b) % 2147483647)) AS sig$i"
    }.mkString(",\n          ")
    val bandCols = (0 until 4).map { bnd =>
      val parts = (0 until 4).map(r => s"CAST(sig${bnd * 4 + r} AS VARCHAR)")
      s"(${parts.mkString(" || ',' || ")}) AS band$bnd"
    }.mkString(",\n          ")
    s"""
      -- anchored on documents: a doc with <3 tokens has an empty hash
      -- list -> NULL signature (mirrors the Spark side's all-null sig)
      hl AS (SELECT d.doc_id,
               list(h.h) FILTER (WHERE h.h IS NOT NULL) AS hl
             FROM documents d LEFT JOIN hs h ON d.doc_id = h.doc_id
             GROUP BY d.doc_id),
      sigs AS (SELECT doc_id,
          $sigCols
        FROM hl),
      banded0 AS (SELECT doc_id,
          $bandCols
        FROM sigs),
      banded AS (
        SELECT doc_id, 0 AS band, band0 AS band_sig FROM banded0
        UNION ALL SELECT doc_id, 1, band1 FROM banded0
        UNION ALL SELECT doc_id, 2, band2 FROM banded0
        UNION ALL SELECT doc_id, 3, band3 FROM banded0),
      cands AS (SELECT DISTINCT a.doc_id d1, b.doc_id d2
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_sig = b.band_sig
                 AND a.doc_id < b.doc_id)"""
  }

  /** MinHash(16) + LSH(4 bands × 4 rows) candidate generation;
    * per-doc candidate-partner counts. Oracle mirrors the whole
    * integer chain (same LCG-derived permutation constants). */
  val d02 = QueryDef(
    "d02_minhash_lsh",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", shingleN = 3, k = 16)
      // salting hooks engaged: any band bucket collecting ≥64 docs
      // (boilerplate/adversarial corpora) is chunk-salted so its pair
      // volume spreads over ~salt²/2 cells; results are identical by
      // construction (DedupSkewSpec), and a corpus with no hot bucket
      // pays only the bucket-size count
      val cands = Dedup.minhashCandidates(sigs, bands = 4, rows = 4,
        salt = 8, saltMinBucket = 64)
      val partners = cands.select(col("d1").as("doc_id"))
        .unionAll(cands.select(col("d2").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      sigs.join(partners, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), element_at(col("sig"), 1).as("sig_head"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $shingleHashSql,
      $minhashCandSql,
      partners AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM (
          SELECT d1 AS doc_id FROM cands UNION ALL SELECT d2 FROM cands)
        GROUP BY doc_id)
      SELECT s.doc_id, s.sig0 AS sig_head,
        COALESCE(p.n, 0) AS n_candidates
      FROM sigs s LEFT JOIN partners p ON s.doc_id = p.doc_id
      ORDER BY s.doc_id"""))

  /** Two-phase near-dup detection, the production shape: MinHash/LSH
    * candidates (cost ∝ corpus), exact shingle-Jaccard verify on
    * candidates only (cost ∝ candidate volume). Oracle chains d02's
    * candidate CTEs into d04's Jaccard arithmetic. */
  val d07 = QueryDef(
    "d07_minhash_verify",
    (sp, dir) => {
      Dedup.minhashVerifiedPairs(Tables(sp, dir, "documents"),
        "doc_id", "text", shingleN = 3, k = 16, bands = 4, rows = 4,
        minJaccard = 0.2, bloomPrefilter = true,
        salt = 8, saltMinBucket = 64)
        .orderBy("d1", "d2")
    },
    Some(s"""
      WITH $shingleHashSql,
      $minhashCandSql,
      sizes AS (SELECT doc_id, COUNT(*) n FROM hs GROUP BY doc_id),
      common AS (SELECT c.d1, c.d2, COUNT(*) common
                 FROM cands c
                 JOIN hs a ON a.doc_id = c.d1
                 JOIN hs b ON b.doc_id = c.d2 AND b.h = a.h
                 GROUP BY 1, 2)
      SELECT m.d1, m.d2, CAST(m.common AS BIGINT) AS common,
        CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
        CAST(m.common AS DOUBLE) / (s1.n + s2.n - m.common) AS jaccard
      FROM common m JOIN sizes s1 ON m.d1 = s1.doc_id
                    JOIN sizes s2 ON m.d2 = s2.doc_id
      WHERE CAST(m.common AS DOUBLE) / (s1.n + s2.n - m.common) >= 0.2
      ORDER BY d1, d2"""))

  /** SimHash fingerprints + banded hamming candidates. Oracle mirrors
    * the full integer chain: per-word dual-poly hash, per-bit majority
    * vote, 4×16-bit band buckets, exact hamming verify. */
  val d03 = QueryDef(
    "d03_simhash",
    (sp, dir) => {
      // truncated (checkpoint-dir-aware): the fingerprint table is
      // (doc_id, simhash) —
      // 16 bytes per doc — but the plan references it four times
      // (banded self-join sides, salt sizing, final left join), and
      // each reference re-ran the SimHash kernel over the full text
      // column (34 parquet scans in the un-truncated plan). Compute
      // fingerprints once, decide on the small rows (guide §8).
      val fps = Dedup.simhashFingerprints(
        Tables(sp, dir, "documents"), "doc_id", "text")
        .transform(org.apache.spark.sql.graft.Bridge.truncateBounded)
      // salting engaged: template docs cluster simhashes, so a single
      // 16-bit band bucket can hold 20%+ of the corpus (1109/5000 at
      // sf0.1) — the chunk-salt spreads that bucket's pair volume
      val cands = Dedup.simhashCandidates(fps, maxHamming = 12,
        salt = 8, saltMinBucket = 64)
      // one reference to cands: with no distinct exchange on top to
      // reuse, a union of its d1 and d2 projections would run the band
      // join twice
      val partners = cands.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      fps.join(partners, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("simhash"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      wh AS (SELECT doc_id, list_transform(w,
               s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(generate_series(1, CAST(len(s) AS INT)),
                        i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
                      (a, b) -> (a * 31 + b) % 2147483647)
                  + (list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(generate_series(1, CAST(len(s) AS INT)),
                        i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
                      (a, b) -> (a * 131 + b) % 2147483647) << 31)) AS hl
             FROM toks),
      sim AS (SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(0, 62),
                   j -> CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(hl, h -> ((h >> j) % 2) * 2 - 1)),
                          (a, b) -> a + b) > 0
                        THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
                 (a, b) -> a + b) AS simhash
              FROM wh),
      banded AS (SELECT doc_id, simhash, b AS band,
                   (simhash >> (b * 16)) % 65536 AS band_val
                 FROM sim, (SELECT unnest([0, 1, 2, 3]) AS b)),
      cands AS (SELECT DISTINCT a.doc_id d1, b.doc_id d2,
                  bit_count(xor(a.simhash, b.simhash)) AS hamming
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id),
      filtered AS (SELECT d1, d2 FROM cands WHERE hamming <= 12),
      partners AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM (
          SELECT d1 AS doc_id FROM filtered UNION ALL SELECT d2 FROM filtered)
        GROUP BY doc_id)
      SELECT s.doc_id, s.simhash, COALESCE(p.n, 0) AS n_candidates
      FROM sim s LEFT JOIN partners p ON s.doc_id = p.doc_id
      ORDER BY s.doc_id"""))

  /** Exact word-trigram Jaccard near-dup pairs. The document-frequency
    * cap (df ≤ 64) drops boilerplate shingles BEFORE pair generation,
    * bounding the Σdf² candidate blowup on adversarial corpora; the
    * oracle mirrors the cap (Jaccard is then over discriminative
    * shingles only — the standard stop-shingle trade-off). */
  val d04 = QueryDef(
    "d04_ngram_jaccard",
    (sp, dir) => jaccardPairs(sp, dir).orderBy("d1", "d2"),
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      sh0 AS (SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(w) < 3 THEN []
                    ELSE list_transform(generate_series(1, CAST(len(w) - 2 AS INT)),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS shingle
             FROM toks),
      sh AS (SELECT doc_id, shingle FROM (
               SELECT doc_id, shingle,
                 COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh0)
             WHERE df <= 64),
      sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id d1, b.doc_id d2, COUNT(*) common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT d1, d2, CAST(common AS BIGINT) AS common,
        CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
        CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
      FROM pairs p JOIN sizes s1 ON p.d1 = s1.doc_id
                   JOIN sizes s2 ON p.d2 = s2.doc_id
      WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.2
      ORDER BY d1, d2"""))

  /** Embedding-cosine near-dup pairs via banded sign-LSH candidates +
    * exact-cosine verify (the bucket-equi-join scale shape; the exact
    * brute-force baseline lives in s01). Oracle reproduces the band
    * buckets from the same deterministic hyperplanes. */
  val d05 = QueryDef(
    "d05_embedding_dedup",
    (sp, dir) => {
      Dedup.embeddingNearDups(Tables(sp, dir, "embeddings"), "vec_id",
        "embedding", minCosine = 0.4, dim = 64, bands = 2, planesPerBand = 8)
        .orderBy("id1", "id2")
    },
    Some {
      val foldDot =
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(%s, %s), x -> x[1] * x[2])), (a, b) -> a + b)"
      val bands = 2; val ppb = 8
      val planes = graft.operators.Similarity.hyperplanes(bands * ppb, 64)
      def planeLit(p: Seq[Double]): String =
        p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      def bucketExpr(b: Int): String = (0 until ppb).map { r =>
        s"(CASE WHEN ${foldDot.format("v", s"${planeLit(planes(b * ppb + r))}::DOUBLE[]")} > 0 THEN ${1L << r} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(${foldDot.format("v", "v")}) nrm,
              ${bucketExpr(0)} AS b0,
              ${bucketExpr(1)} AS b1
            FROM e),
      k AS (SELECT vec_id AS id, 0 AS band, b0 AS bucket FROM n
            UNION ALL SELECT vec_id, 1, b1 FROM n),
      cand AS (SELECT DISTINCT a.id id1, b.id id2
               FROM k a JOIN k b ON a.band = b.band AND a.bucket = b.bucket
                AND a.id < b.id)
      SELECT c.id1, c.id2,
        ${foldDot.format("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
      FROM cand c JOIN n a ON c.id1 = a.vec_id JOIN n b ON c.id2 = b.vec_id
      WHERE ${foldDot.format("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4
      ORDER BY id1, id2"""
    })

  /** d06/d08's shared oracle chain (requires [[shingleHashSql]] under
    * WITH RECURSIVE in the same query): df-capped trigram-Jaccard
    * pairs → recursive reachability → `comp(id, comp)` = min reachable
    * id per node, mirroring [[graft.operators.Components]]. */
  private[queries] val componentsSql = """
      hsc AS (SELECT doc_id, h FROM (
                SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM hs)
              WHERE df <= 64),
      sizes AS (SELECT doc_id, COUNT(*) n FROM hsc GROUP BY doc_id),
      cnt AS (SELECT a.doc_id d1, b.doc_id d2, COUNT(*) common
              FROM hsc a JOIN hsc b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      pairs AS (SELECT d1, d2 FROM cnt
                JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
                WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.2),
      edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp
               FROM reach GROUP BY a)"""

  // d04/d06/d08/d09/d10/d12 all consume expensive shared
  // subcomputations — the df-capped trigram-Jaccard pair set (the
  // costliest build in the catalog) and the doc→canonical components
  // mapping derived from it (whose iterative loop RUNS at plan-build
  // time: per-round convergence aggregates execute eagerly) — so each
  // is persisted once per (session, dir) through the shared
  // [[graft.operators.DfCache]] (one implementation of the
  // weak-session/soft-ref pattern, one place for its caveats).
  private def cachedDf(sp: org.apache.spark.sql.SparkSession, key: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.DfCache.persisted(sp, "dedupq:" + key)(build)

  /** Materialize the shared per-(session, dir) builds — the Jaccard
    * pair set and the components mapping — OUTSIDE any caller's timed
    * region. The bench calls this so the one-time build cost lands in
    * its own `shared_builds` line instead of being attributed to
    * whichever of the seven consumers happens to run first (which made
    * round-over-round per-query diffs noise). */
  def warmShared(sp: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    jaccardPairs(sp, dir).count()
    canonicalDocs(sp, dir).count()
  }

  /** The shared df-capped (≤64) word-trigram Jaccard pair set: ground
    * truth for d12's index evaluation AND the edge list behind the
    * d06/d08/d09/d10 component chain — built and persisted once. */
  private[queries] def jaccardPairs(sp: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    cachedDf(sp, s"pairs:$dir") {
      Dedup.ngramJaccard(Tables(sp, dir, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.2, maxDf = Some(64))
    }

  private[queries] def canonicalDocs(sp: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    cachedDf(sp, s"canon:$dir") {
      graft.operators.Components.canonicalize(
        Tables(sp, dir, "documents"), "doc_id",
        jaccardPairs(sp, dir), "d1", "d2")
    }

  /** Near-dup cluster resolution: trigram-Jaccard pairs → connected
    * components → canonical doc per cluster. Oracle computes the same
    * components with a recursive reachability CTE. */
  val d06 = QueryDef(
    "d06_dedup_clusters",
    (sp, dir) => canonicalDocs(sp, dir).orderBy("doc_id"),
    Some(s"""
      WITH RECURSIVE $shingleHashSql,
      $componentsSql
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS canonical_id,
        COALESCE(c.comp, d.doc_id) <> d.doc_id AS is_duplicate
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
      ORDER BY d.doc_id"""))

  /** Dedup impact report: the cluster-size distribution of d06's
    * components — how many 2-clusters, 3-clusters, … the near-dup
    * resolution found, plus the docs removed were every cluster
    * reduced to its canonical. Singletons (size 1) ride along so the
    * row counts reconcile against the corpus. */
  val d08 = QueryDef(
    "d08_cluster_sizes",
    (sp, dir) => {
      canonicalDocs(sp, dir)
        .groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size") - 1).as("docs_removed"))
        .orderBy("cluster_size")
    },
    Some(s"""
      WITH RECURSIVE $shingleHashSql,
      $componentsSql,
      canon AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS canonical
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
      cs AS (SELECT canonical, COUNT(*) sz FROM canon GROUP BY canonical)
      SELECT CAST(sz AS BIGINT) AS cluster_size,
        CAST(COUNT(*) AS BIGINT) AS n_clusters,
        CAST(SUM(sz - 1) AS BIGINT) AS docs_removed
      FROM cs GROUP BY sz ORDER BY cluster_size"""))

  /** The actual dedup KEEP decision: within each near-dup cluster,
    * retain the highest-quality member (longest doc, id tie-break)
    * rather than d06's min-id canonical — the rule real corpus dedup
    * ships with. One partitioned window over the shared components
    * result; singletons keep themselves. */
  val d09 = QueryDef(
    "d09_best_of_cluster",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val scored = canonicalDocs(sp, dir)
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("canonical_id")
        .orderBy(col("n_chars").desc, col("doc_id"))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("canonical_id"), col("doc_id").as("kept_doc"),
          col("n_chars").as("kept_chars"))
        .orderBy("canonical_id")
    },
    Some(s"""
      WITH RECURSIVE $shingleHashSql,
      $componentsSql,
      canon AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS canonical_id,
                  d.n_chars
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
      r AS (SELECT canonical_id, doc_id, n_chars,
              ROW_NUMBER() OVER (PARTITION BY canonical_id
                ORDER BY n_chars DESC, doc_id) AS rn
            FROM canon)
      SELECT canonical_id, doc_id AS kept_doc, n_chars AS kept_chars
      FROM r WHERE rn = 1 ORDER BY canonical_id"""))

  /** Per-source dedup attrition: what fraction of each source's docs
    * the near-dup resolution removes — the acceptance report a corpus
    * pipeline publishes before committing a dedup pass. One join of
    * the shared components result against the source column; the rate
    * is a single double division of exact counts. */
  val d10 = QueryDef(
    "d10_dedup_rate",
    (sp, dir) => {
      val src = Tables(sp, dir, "documents").select("doc_id", "source")
      canonicalDocs(sp, dir).join(src, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("n_dupes"),
          countDistinct(col("canonical_id")).as("n_canonicals"))
        .withColumn("dup_rate", col("n_dupes") / col("n_docs"))
        .orderBy("source")
    },
    Some(s"""
      WITH RECURSIVE $shingleHashSql,
      $componentsSql,
      canon AS (SELECT d.doc_id, d.source,
                  COALESCE(c.comp, d.doc_id) AS canonical_id,
                  COALESCE(c.comp, d.doc_id) <> d.doc_id AS is_duplicate
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dupes,
        CAST(COUNT(DISTINCT canonical_id) AS BIGINT) AS n_canonicals,
        CAST(SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS dup_rate
      FROM canon GROUP BY source ORDER BY source"""))

  /** LSH index tuning report: per-band bucket counts, collision-pair
    * volume (Σ sz·(sz−1)/2 — the exact join cost the candidate stage
    * will pay), and the hottest bucket. The observability artifact an
    * index owner reads before changing bands/rows; integer arithmetic
    * end to end. */
  val d11 = QueryDef(
    "d11_lsh_tuning",
    (sp, dir) => {
      val sigs = Dedup.minhashSignatures(Tables(sp, dir, "documents"),
        "doc_id", "text", shingleN = 3, k = 16)
      Dedup.minhashBanded(sigs, bands = 4, rows = 4)
        .groupBy("band", "band_sig")
        .agg(count(lit(1)).as("sz"))
        .groupBy("band")
        .agg(sum(col("sz")).as("n_docs"),
          count(lit(1)).as("n_buckets"),
          sum(expr("sz * (sz - 1) div 2")).as("n_pairs"),
          max(col("sz")).as("max_bucket"))
        .orderBy("band")
    },
    Some(s"""
      WITH $shingleHashSql,
      $minhashCandSql,
      bsz AS (SELECT band, band_sig, COUNT(*) AS sz
              FROM banded WHERE band_sig IS NOT NULL
              GROUP BY band, band_sig)
      SELECT band, CAST(SUM(sz) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_buckets,
        CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_pairs,
        CAST(MAX(sz) AS BIGINT) AS max_bucket
      FROM bsz GROUP BY band ORDER BY band"""))

  /** LSH index evaluation: precision/recall of the MinHash candidate
    * set against exact-Jaccard ground truth (the text analogue of
    * s06's ANN recall report). The ground truth is the SHARED persisted
    * [[jaccardPairs]] result (also the d06-chain edge list) — the most
    * expensive subcomputation in the catalog, paid once. One full-outer
    * join of the two pair sets feeds a single aggregate — no cartesian
    * anywhere; the rates are double divisions of exact counts. */
  val d12 = QueryDef(
    "d12_lsh_eval",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val truth = jaccardPairs(sp, dir).select("d1", "d2")
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        shingleN = 3, k = 16)
      val cands = Dedup.minhashCandidates(sigs, bands = 4, rows = 4)
      truth.withColumn("t", lit(1L))
        .join(cands.withColumn("c", lit(1L)), Seq("d1", "d2"), "full_outer")
        .agg(sum(coalesce(col("t"), lit(0L))).as("n_true"),
          sum(coalesce(col("c"), lit(0L))).as("n_candidates"),
          sum(coalesce(col("t"), lit(0L)) * coalesce(col("c"), lit(0L)))
            .as("n_hits"))
        .withColumn("precision", col("n_hits") / col("n_candidates"))
        .withColumn("recall", col("n_hits") / col("n_true"))
    },
    Some(s"""
      WITH $shingleHashSql,
      $minhashCandSql,
      hsc AS (SELECT doc_id, h FROM (
                SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM hs)
              WHERE df <= 64),
      szs AS (SELECT doc_id, COUNT(*) n FROM hsc GROUP BY doc_id),
      cmn AS (SELECT a.doc_id d1, b.doc_id d2, COUNT(*) common
              FROM hsc a JOIN hsc b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      truth AS (SELECT d1, d2 FROM cmn
                JOIN szs s1 ON d1 = s1.doc_id JOIN szs s2 ON d2 = s2.doc_id
                WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.2),
      j AS (SELECT COALESCE(t.one, 0) AS t, COALESCE(c.one, 0) AS c
            FROM (SELECT d1, d2, 1 AS one FROM truth) t
            FULL OUTER JOIN (SELECT d1, d2, 1 AS one FROM cands) c
              ON t.d1 = c.d1 AND t.d2 = c.d2)
      SELECT CAST(SUM(t) AS BIGINT) AS n_true,
        CAST(SUM(c) AS BIGINT) AS n_candidates,
        CAST(SUM(t * c) AS BIGINT) AS n_hits,
        CAST(SUM(t * c) AS DOUBLE) / SUM(c) AS precision,
        CAST(SUM(t * c) AS DOUBLE) / SUM(t) AS recall
      FROM j"""))

  /** Sub-document (block-level) dedup: each doc is cut into
    * consecutive 16-word blocks, each block 62-bit poly-hashed, and a
    * block is "duplicated" when its hash occurs at more than one
    * (doc, position) corpus-wide — the boilerplate-detection pass a
    * training pipeline runs when whole-doc dedup (d01) is too coarse.
    * One explode + one hash-keyed aggregation (8-byte shuffle keys);
    * per-doc shares are one double division. The trailing partial
    * block is dropped on both sides (fixed-width semantics). */
  val d13 = QueryDef(
    "d13_block_dedup",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val nb = (size(toks) - size(toks) % 16) / 16
      // sequence(0, -1) counts DOWN — guard the short-doc branch
      val idxs = when(nb >= 1, sequence(lit(0), nb.cast("int") - 1))
        .otherwise(array().cast("array<int>"))
      val blocks = docs
        .select(col("doc_id"), toks.as("w"), explode(idxs).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("w"), col("i") * 16 + 1, lit(16))).as("btext"))
        .select(col("doc_id"),
          (graft.functions.PolyHashExpr(col("btext"), 31L) +
            shiftleft(graft.functions.PolyHashExpr(col("btext"), 131L), 31))
            .as("h"))
      val dfh = blocks.groupBy("h").agg(count(lit(1)).as("occ"))
      val per = blocks.join(dfh, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_blocks"))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
          coalesce(col("n_dup_blocks"), lit(0L)).as("n_dup_blocks"),
          when(col("n_blocks") > 0,
            col("n_dup_blocks") / col("n_blocks")).as("dup_share"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      blocks AS (SELECT doc_id,
          array_to_string(list_slice(w, i * 16 + 1, i * 16 + 16), ' ') AS btext
        FROM toks, unnest(generate_series(0, CAST(len(w) // 16 AS INT) - 1))
          AS u(i)),
      hs AS (SELECT doc_id,
          (list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, CAST(len(btext) AS INT)),
               j -> CAST(ascii(substr(btext, j, 1)) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 2147483647)
           + (list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, CAST(len(btext) AS INT)),
                 j -> CAST(ascii(substr(btext, j, 1)) AS BIGINT))),
               (a, b) -> (a * 131 + b) % 2147483647) << 31)) AS h
        FROM blocks),
      dfh AS (SELECT h, COUNT(*) AS occ FROM hs GROUP BY h),
      per AS (SELECT doc_id, COUNT(*) AS n_blocks,
                SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS n_dup_blocks
              FROM hs JOIN dfh USING (h) GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(COALESCE(per.n_blocks, 0) AS BIGINT) AS n_blocks,
        CAST(COALESCE(per.n_dup_blocks, 0) AS BIGINT) AS n_dup_blocks,
        CASE WHEN per.n_blocks > 0
             THEN CAST(per.n_dup_blocks AS DOUBLE) / per.n_blocks END
          AS dup_share
      FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      ORDER BY d.doc_id"""))

  /** URL canonicalization dedup — the scraper-shaped entry: crawl
    * frontiers re-discover the same page under cosmetic URL variants
    * (host case, default port, tracking params, trailing slash,
    * fragments), and deduping on the CANONICAL form is what keeps a
    * 100 TB crawl from re-fetching its whole history. URLs are
    * synthesized deterministically from (source, doc_id) to exercise
    * every variant class; canonicalization is pure string kernels
    * (lowercased scheme://host, `:443` dropped, `utm_*` params and
    * fragments stripped, pre-query and trailing slashes collapsed) —
    * codegen-friendly, no UDF. Replacements avoid capture-group
    * backrefs: Java (`$1`) and RE2 (`\\1`) spell them differently.
    * Scale: groupBy on the canonical string; one shuffle, map-side
    * combine collapses the variant fan-in. */
  val d14 = QueryDef(
    "d14_url_dedup",
    (sp, dir) => {
      val raw = concat(
        lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM:443"),
        lit("/articles/"), (col("doc_id") % 13).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("?utm_source=feed&utm_campaign=sync"))
          .when(col("doc_id") % 3 === 1, lit("?ref=home"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit("")))
      val noFrag = regexp_replace(raw, "#.*$", "")
      val prefix = regexp_extract(noFrag, "^[^/]*//[^/]*", 0)
      val rest = expr("substring(__nofrag, length(__prefix) + 1)")
      val canon = Tables(sp, dir, "documents")
        .select(col("doc_id"), noFrag.as("__nofrag"), prefix.as("__prefix"))
        .withColumn("__rest", rest)
        .select(col("doc_id"), concat(
          regexp_replace(lower(col("__prefix")), ":443$", ""),
          regexp_replace(regexp_replace(
            regexp_replace(col("__rest"), "[?&]utm_[^&#]*", ""),
            "/\\?", "?"), "/$", "")).as("canon_url"))
      canon.groupBy("canon_url")
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("first_doc"))
        .orderBy("canon_url")
    },
    Some("""
      WITH raw AS (
        SELECT doc_id,
          'HTTPS://WWW.' || upper(source) || '.Example.COM:443' ||
          '/articles/' || CAST(doc_id % 13 AS VARCHAR) ||
          CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
          CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_campaign=sync'
               WHEN doc_id % 3 = 1 THEN '?ref=home' ELSE '' END ||
          CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END AS u
        FROM documents),
      nf AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM raw),
      pr AS (SELECT doc_id, u,
               regexp_extract(u, '^[^/]*//[^/]*') AS prefix FROM nf),
      canon AS (SELECT doc_id,
          regexp_replace(lower(prefix), ':443$', '') ||
          regexp_replace(regexp_replace(regexp_replace(
            substring(u, length(prefix) + 1),
            '[?&]utm_[^&#]*', '', 'g'), '/\?', '?'), '/$', '')
          AS canon_url
        FROM pr)
      SELECT canon_url, COUNT(*) AS n_urls, MIN(doc_id) AS first_doc
      FROM canon GROUP BY canon_url ORDER BY canon_url"""))

  /** Asymmetric CONTAINMENT similarity — |A∩B| / |A| per side — the
    * sub/superset detector Jaccard structurally misses: a short doc
    * fully quoted inside a long one has containment 1.0 but Jaccard
    * n1/n2, arbitrarily low. That is why this entry regenerates pairs
    * at minJaccard = 0 instead of reusing d04's 0.2-thresholded set —
    * the interesting containment pairs live BELOW d04's cutoff. Same
    * bucketed in-shingle pair generation and df≤64 cap (fanout stays
    * bounded); the keep filter is max(c1, c2) ≥ 0.5. */
  val d15 = QueryDef(
    "d15_containment",
    (sp, dir) => {
      Dedup.ngramJaccard(Tables(sp, dir, "documents"), "doc_id", "text",
          n = 3, minJaccard = 0.0, maxDf = Some(64))
        .withColumn("c1", col("common").cast("double") / col("n1"))
        .withColumn("c2", col("common").cast("double") / col("n2"))
        .filter(greatest(col("c1"), col("c2")) >= 0.5)
        .select(col("d1"), col("d2"), col("common"), col("n1"), col("n2"),
          col("c1"), col("c2"))
        .orderBy("d1", "d2")
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      sh0 AS (SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(w) < 3 THEN []
                    ELSE list_transform(generate_series(1, CAST(len(w) - 2 AS INT)),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS shingle
             FROM toks),
      sh AS (SELECT doc_id, shingle FROM (
               SELECT doc_id, shingle,
                 COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh0)
             WHERE df <= 64),
      sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id d1, b.doc_id d2, COUNT(*) common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT d1, d2, CAST(common AS BIGINT) AS common,
        CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
        CAST(common AS DOUBLE) / s1.n AS c1,
        CAST(common AS DOUBLE) / s2.n AS c2
      FROM pairs p JOIN sizes s1 ON p.d1 = s1.doc_id
                   JOIN sizes s2 ON p.d2 = s2.doc_id
      WHERE GREATEST(CAST(common AS DOUBLE) / s1.n,
                     CAST(common AS DOUBLE) / s2.n) >= 0.5
      ORDER BY d1, d2"""))

  /** Semantic dedup (SemDeDup-shaped): d05's verified embedding-cosine
    * near-dup pairs become edges, connected components resolve them to
    * semantic clusters, and every vector maps to its cluster's
    * canonical representative (min id) — the embedding-space analogue
    * of the d06 text pipeline, and the modern LLM-corpus dedup recipe
    * (cluster in embedding space, keep one per cluster). All the scale
    * shapes are inherited: banded sign-LSH candidates, exact-cosine
    * verify, min-label propagation with one shuffle per round. */
  val d16 = QueryDef(
    "d16_semantic_dedup",
    (sp, dir) => {
      val embs = Tables(sp, dir, "embeddings")
      val pairs = Dedup.embeddingNearDups(embs, "vec_id", "embedding",
        minCosine = 0.4, dim = 64, bands = 2, planesPerBand = 8)
      graft.operators.Components.canonicalize(
          embs, "vec_id", pairs, "id1", "id2")
        .select(col("doc_id").as("vec_id"), col("canonical_id"),
          col("is_duplicate"))
        .orderBy("vec_id")
    },
    Some {
      val foldDot =
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(%s, %s), x -> x[1] * x[2])), (a, b) -> a + b)"
      val bands = 2; val ppb = 8
      val planes = graft.operators.Similarity.hyperplanes(bands * ppb, 64)
      def planeLit(p: Seq[Double]): String =
        p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      def bucketExpr(b: Int): String = (0 until ppb).map { r =>
        s"(CASE WHEN ${foldDot.format("v", s"${planeLit(planes(b * ppb + r))}::DOUBLE[]")} > 0 THEN ${1L << r} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"""
      WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(${foldDot.format("v", "v")}) nrm,
              ${bucketExpr(0)} AS b0,
              ${bucketExpr(1)} AS b1
            FROM e),
      k AS (SELECT vec_id AS id, 0 AS band, b0 AS bucket FROM n
            UNION ALL SELECT vec_id, 1, b1 FROM n),
      cand AS (SELECT DISTINCT a.id id1, b.id id2
               FROM k a JOIN k b ON a.band = b.band AND a.bucket = b.bucket
                AND a.id < b.id),
      pairs AS (SELECT c.id1 d1, c.id2 d2
                FROM cand c JOIN n a ON c.id1 = a.vec_id
                            JOIN n b ON c.id2 = b.vec_id
                WHERE ${foldDot.format("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4),
      edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp
               FROM reach GROUP BY a)
      SELECT e.vec_id,
        COALESCE(comp.comp, e.vec_id) AS canonical_id,
        COALESCE(comp.comp, e.vec_id) <> e.vec_id AS is_duplicate
      FROM e LEFT JOIN comp ON e.vec_id = comp.id
      ORDER BY e.vec_id"""
    })

  /** Top boilerplate templates — d13 told each doc how much of it is
    * duplicated blocks; this names the BLOCKS: the 16-word spans
    * shared by the most documents, with their total occurrence count
    * and an example doc — the report a pipeline owner reads before
    * writing a template-strip rule. Grouped on the block text
    * directly (a 20-row report; d13 owns the 8-byte hash-keyed path
    * for the corpus-wide pass), top-20 by a total order. */
  val d17 = QueryDef(
    "d17_top_templates",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val nb = (size(toks) - size(toks) % 16) / 16
      val idxs = when(nb >= 1, sequence(lit(0), nb.cast("int") - 1))
        .otherwise(array().cast("array<int>"))
      docs.select(col("doc_id"), toks.as("w"), explode(idxs).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("w"), col("i") * 16 + 1, lit(16)))
            .as("btext"))
        .groupBy("btext")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("example_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_occurrences").desc,
          col("btext"))
        .limit(20)
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      blocks AS (SELECT doc_id,
          array_to_string(list_slice(w, i * 16 + 1, i * 16 + 16), ' ')
            AS btext
        FROM toks, unnest(generate_series(0, CAST(len(w) // 16 AS INT) - 1))
          AS u(i)),
      t AS (SELECT btext,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
              CAST(COUNT(*) AS BIGINT) AS n_occurrences,
              MIN(doc_id) AS example_doc
            FROM blocks GROUP BY btext)
      SELECT btext, n_docs, n_occurrences, example_doc
      FROM t WHERE n_docs >= 2
      ORDER BY n_docs DESC, n_occurrences DESC, btext LIMIT 20"""))

  /** Dedup funnel — the capstone attrition report over the whole
    * dedup stack: raw corpus → exact-distinct (d01's dual 62-bit
    * hash groups) → near-dup clusters (d06's canonical components),
    * each stage with its retained share. This is the number a
    * pipeline owner quotes ("dedup kept 94%"). The raw and exact
    * stages come from ONE pass over d01's hash groups (Σ n_copies is
    * the raw count, the group count the exact one), and the near-dup
    * stage reuses the session-cached components build, so the funnel
    * scans `documents` once and costs one tiny re-aggregation, not a
    * recompute. */
  val d18 = QueryDef(
    "d18_dedup_funnel",
    (sp, dir) => {
      val counts = Dedup.exact(Tables(sp, dir, "documents"), "doc_id", "text")
        .agg(coalesce(sum(col("n_copies")), lit(0L)).as("raw"),
          count(lit(1)).as("exact"))
      val near = canonicalDocs(sp, dir)
        .agg(countDistinct(col("canonical_id")).as("near"))
      // one row each: the constant NON-FOLDABLE key keeps the stitch a
      // broadcast hash join rather than a nested-loop cross join
      counts.withColumn("__j", pmod(col("raw"), lit(1L)))
        .join(broadcast(near.withColumn("__j", pmod(col("near"), lit(1L)))),
          "__j")
        .select(col("raw"), explode(array(
          struct(lit("1_raw").as("stage"), col("raw").as("n")),
          struct(lit("2_after_exact").as("stage"), col("exact").as("n")),
          struct(lit("3_after_near_dup").as("stage"), col("near").as("n"))))
          .as("s"))
        .select(col("s.stage").as("stage"), col("s.n").as("n"),
          (col("s.n").cast("double") / col("raw").cast("double"))
            .as("retained_share"))
        .orderBy("stage")
    },
    Some {
      def fold(m: Int): String =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, CAST(len(nt) AS INT)),
             i -> CAST(ascii(substr(nt, i, 1)) AS BIGINT))),
           (a, b) -> (a * $m + b) % 2147483647)"""
      s"""
      WITH RECURSIVE $shingleHashSql,
      $componentsSql,
      canon AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS canonical
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
      norm AS (SELECT doc_id,
          lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
        FROM documents),
      eh AS (SELECT doc_id,
          ${fold(31)} + (${fold(131)} << 31) AS h_a,
          ${fold(37)} + (${fold(149)} << 31) AS h_b
        FROM norm),
      stages AS (
        SELECT '1_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents
        UNION ALL
        SELECT '2_after_exact', CAST(COUNT(*) AS BIGINT)
        FROM (SELECT DISTINCT h_a, h_b FROM eh)
        UNION ALL
        SELECT '3_after_near_dup', CAST(COUNT(DISTINCT canonical) AS BIGINT)
        FROM canon),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM documents)
      SELECT stage, n,
        CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS retained_share
      FROM stages, tot ORDER BY stage"""
    })

  /** Incremental LSH index maintenance — the 100 TB operational shape
    * d02 implies: when an installment of NEW docs arrives, only
    * new×(old ∪ new) bucket pairs are computed (the stored pair set
    * and the old corpus' banded index are reused), never old×old
    * again. Cost per installment follows the INSTALLMENT's bucket
    * volume, not the corpus'. The entry splits the corpus (even
    * doc_ids = the stored index, odd = the arriving installment),
    * maintains incrementally, and emits per-doc candidate counts —
    * which the oracle computes FROM SCRATCH over the full corpus, so
    * the hash proves incremental ≡ batch, partner for partner. */
  val d19 = QueryDef(
    "d19_incremental_lsh",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val oldDocs = docs.filter(col("doc_id") % 2 === 0)
      val newDocs = docs.filter(col("doc_id") % 2 =!= 0)
      val bandedOld = Dedup.minhashBanded(
        Dedup.minhashSignatures(oldDocs, "doc_id", "text", 3, 16), 4, 4)
      val bandedNew = Dedup.minhashBanded(
        Dedup.minhashSignatures(newDocs, "doc_id", "text", 3, 16), 4, 4)
      // delta join: the new side probes the ENTIRE index (old + new),
      // so new×old and new×new pairs appear; old×old pairs come from
      // the stored pair set (recomputed here as the stand-in for the
      // previous installment's output — in production it is read back)
      val newPairs = bandedNew.as("a")
        .join(bandedOld.unionAll(bandedNew).as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_sig") === col("b.band_sig") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      val oldPairs = Dedup.minhashCandidates(
        Dedup.minhashSignatures(oldDocs, "doc_id", "text", 3, 16), 4, 4)
      val cands = oldPairs.unionAll(newPairs).distinct()
      val partners = cands.select(col("d1").as("doc_id"))
        .unionAll(cands.select(col("d2").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      docs.select(col("doc_id"), (col("doc_id") % 2 =!= 0).as("is_new"))
        .join(partners, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("is_new"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $shingleHashSql,
      $minhashCandSql,
      partners AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM (
          SELECT d1 AS doc_id FROM cands UNION ALL SELECT d2 FROM cands)
        GROUP BY doc_id)
      SELECT d.doc_id, d.doc_id % 2 <> 0 AS is_new,
        COALESCE(p.n, 0) AS n_candidates
      FROM documents d LEFT JOIN partners p ON d.doc_id = p.doc_id
      ORDER BY d.doc_id"""))

  /** Prefix-filtered set-similarity self-join (AllPairs/PPJoin
    * candidate generation) at Jaccard ≥ 3/5 over df-capped word
    * trigrams — the high-threshold near-dup shape where indexing only
    * prefix tokens prunes most of the bucket fanout d04 pays. Exact
    * verification via per-doc sorted token arrays; every threshold
    * gate is integer arithmetic (rational 3/5), so the oracle replays
    * the same `5·common >= 3·(n1+n2-common)` test with no float
    * boundary. The oracle generates candidates the exhaustive way
    * (all shared-shingle pairs): prefix filtering is lossless for
    * Jaccard, so the verified pair sets coincide — that losslessness
    * is also spec-asserted against [[graft.operators.Dedup
    * .ngramJaccard]] (DedupSpec). */
  val d20 = QueryDef(
    "d20_prefix_filter_join",
    (sp, dir) => Dedup.prefixFilterJaccard(
        Tables(sp, dir, "documents"), "doc_id", "text",
        n = 3, num = 3, den = 5, maxDf = Some(64))
      .orderBy("d1", "d2"),
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      sh0 AS (SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(w) < 3 THEN []
                    ELSE list_transform(generate_series(1, CAST(len(w) - 2 AS INT)),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS shingle
             FROM toks),
      sh AS (SELECT doc_id, shingle FROM (
               SELECT doc_id, shingle,
                 COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh0)
             WHERE df <= 64),
      sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id d1, b.doc_id d2, COUNT(*) common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT d1, d2, CAST(common AS BIGINT) AS common,
        CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
        CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
      FROM pairs p JOIN sizes s1 ON p.d1 = s1.doc_id
                   JOIN sizes s2 ON p.d2 = s2.doc_id
      WHERE 5 * common >= 3 * (s1.n + s2.n - common)
      ORDER BY d1, d2"""))

  /** Cross-run dedup index persistence — d19's contract with the
    * stand-in recompute DELETED: installment 1 (even doc_ids) ends by
    * WRITING its banded index + pair set + registry to a parquet store
    * ([[graft.operators.DedupIndex.write]]); installment 2 (odd
    * doc_ids) arrives as its own landing file and probes the STORED
    * index ([[graft.operators.DedupIndex.appendCandidates]]) — the old
    * corpus is never rescanned. The returned plan reads ONLY the store
    * and the landing file (documents.parquet is absent from its scan
    * set — plan-audited in DedupIndexSpec), while the oracle recomputes
    * the whole chain from scratch over the full corpus: the hash
    * equality IS the proof that incremental maintenance over a
    * persisted store ≡ batch recompute. */
  val d21 = QueryDef(
    "d21_persisted_index",
    (sp, dir) => {
      val fp = graft.sources.IngestFixtures.fingerprint(s"$dir/documents.parquet")
      val store = graft.sources.IngestFixtures.path(s"d21_store_$fp")
      val land = graft.sources.IngestFixtures.path(s"d21_land_$fp")
      graft.sources.IngestFixtures.once(s"d21_$fp") {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(store)).deleteRecursively()
        new Directory(new java.io.File(land)).deleteRecursively()
        val docs = Tables(sp, dir, "documents")
        // installment 1 ends: index persisted
        graft.operators.DedupIndex.write(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          shingleN = 3, k = 16, bands = 4, rows = 4, store)
        // installment 2 lands as its own file — the entry below must
        // never touch documents.parquet
        graft.sources.IngestFixtures.addLandingFile(land,
          docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "text"),
          "batch2.parquet", 1700000200000L)
      }
      val newDocs = sp.read.parquet(land)
      val cands = graft.operators.DedupIndex.appendCandidates(
        sp, store, newDocs, "doc_id", "text",
        shingleN = 3, k = 16, bands = 4, rows = 4)
      val partners = cands.select(col("d1").as("doc_id"))
        .unionAll(cands.select(col("d2").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      graft.operators.DedupIndex.readDocs(sp, store)
        .withColumn("is_new", lit(false))
        .unionByName(newDocs.select("doc_id").withColumn("is_new", lit(true)))
        .join(partners, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("is_new"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $shingleHashSql,
      $minhashCandSql,
      partners AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM (
          SELECT d1 AS doc_id FROM cands UNION ALL SELECT d2 FROM cands)
        GROUP BY doc_id)
      SELECT d.doc_id, d.doc_id % 2 <> 0 AS is_new,
        COALESCE(p.n, 0) AS n_candidates
      FROM documents d LEFT JOIN partners p ON d.doc_id = p.doc_id
      ORDER BY d.doc_id"""))

  /** Blocked edit-distance nearest neighbor: for every document, its
    * closest same-language neighbor by Levenshtein distance over the
    * 80-char prefix, among candidates whose total length differs by at
    * most 3 chars — the fuzzy-match primitive (OCR variants, scrape
    * re-crawls) that Jaccard shingles under-serve because it is
    * position-sensitive.
    *
    * Scale shape: candidate generation is an equi-join on
    * (lang, length-bucket) cells — each doc lands in its home bucket
    * `len DIV 8` and the bucket above, and a pair is owned by exactly
    * ONE cell (`max(bucket_a, bucket_b)`), so no pair is generated or
    * verified twice (the r6 salting ownership trick). Levenshtein runs
    * only on pairs that survive the exact |Δlen| ≤ 3 gate, and the
    * per-doc argmin is a map-side-combinable `min(struct(dist, id))`,
    * never a per-doc sort. Block width bounds candidate volume: cell
    * population is |docs in an 8-char length band per language|, not
    * corpus-proportional.
    */
  val d22 = QueryDef(
    "d22_edit_distance_nn",
    (sp, dir) => {
      val base = Tables(sp, dir, "documents")
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 80).as("pfx"),
          length(col("text")).cast("long").as("len"))
        .withColumn("bkt", expr("len DIV 8"))
      // Each doc is a member of cells {bkt, bkt + 1}; the pair
      // (a, b) is evaluated only in cell max(bkt_a, bkt_b).
      val cells = base.select(col("doc_id"), col("lang"), col("pfx"),
          col("len"), col("bkt"), explode(array(col("bkt"), col("bkt") + 1))
            .as("cell"))
      val pairs = cells.as("a").join(cells.as("b"),
          col("a.lang") === col("b.lang") && col("a.cell") === col("b.cell") &&
            col("a.doc_id") < col("b.doc_id") &&
            col("a.cell") === greatest(col("a.bkt"), col("b.bkt")) &&
            col("b.cell") === greatest(col("a.bkt"), col("b.bkt")) &&
            abs(col("a.len") - col("b.len")) <= 3)
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
          levenshtein(col("a.pfx"), col("b.pfx")).cast("long").as("dist"))
      val directed = pairs.select(col("id1").as("doc_id"),
          col("id2").as("nbr"), col("dist"))
        .unionAll(pairs.select(col("id2").as("doc_id"),
          col("id1").as("nbr"), col("dist")))
      directed.groupBy("doc_id")
        .agg(min(struct(col("dist"), col("nbr"))).as("best"),
          count(lit(1)).as("n_candidates"))
        .select(col("doc_id"), col("best.nbr").as("nn_id"),
          col("best.dist").as("nn_dist"), col("n_candidates"))
        .orderBy("doc_id")
    },
    Some("""
      WITH base AS (
        SELECT doc_id, lang, substr(text, 1, 80) AS pfx,
          CAST(length(text) AS BIGINT) AS len
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
          CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
        FROM base a JOIN base b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
          AND abs(a.len - b.len) <= 3),
      directed AS (
        SELECT id1 AS doc_id, id2 AS nbr, dist FROM pairs
        UNION ALL
        SELECT id2 AS doc_id, id1 AS nbr, dist FROM pairs),
      ranked AS (
        SELECT doc_id, nbr, dist,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, nbr) AS rn,
          COUNT(*) OVER (PARTITION BY doc_id) AS n_candidates
        FROM directed)
      SELECT doc_id, nbr AS nn_id, dist AS nn_dist,
        CAST(n_candidates AS BIGINT) AS n_candidates
      FROM ranked WHERE rn = 1 ORDER BY doc_id"""))

  /** Containment novelty against a PERSISTED FIXED-SIZE membership
    * index — d21's incremental story with the index cost capped: the
    * old corpus's distinct word-trigram shingle hashes live in stored
    * per-shard [[graft.functions.BloomSketchAgg]] filters (32 KB per
    * shard REGARDLESS of corpus size — d21's exact index grows with
    * the corpus, this one never does), and each new-installment doc
    * reports how much of its content was already seen: per-doc shingle
    * containment = Bloom-probed fraction, the C4/CommonCrawl "recycled
    * content" score. The probe is
    * [[graft.functions.BloomSketch.probeColumn]] — the merged sketch's
    * ONE 32 KB byte array is fetched driver-side (bounded, the
    * BloomSemi.buildBits precedent) and each scan row tests k
    * codegen'd LCG positions: no join, no shuffle of the new corpus
    * against the index. The exact-side join is the s06-style
    * EVALUATION leg (dev-scale recall discipline): it re-derives the
    * true containment so the Bloom's false positives are reported per
    * doc, and the no-false-negative guarantee (n_seen_bloom ≥
    * n_seen_exact) is e2e-checked by the oracle's exact bit replay. */
  val d23 = QueryDef(
    "d23_bloom_novelty",
    (sp, dir) => {
      val fp = graft.sources.IngestFixtures.fingerprint(s"$dir/documents.parquet")
      val store = graft.sources.IngestFixtures.path(s"d23_store_$fp")
      graft.sources.IngestFixtures.once(s"d23_$fp") {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(store)).deleteRecursively()
        val old = Tables(sp, dir, "documents").filter(col("doc_id") % 2 === 0)
        Dedup.shingleHashSet(old, "doc_id", "text", 3)
          .groupBy(pmod(col("doc_id"), lit(8L)).as("shard"))
          .agg(count(lit(1)).as("n_shingle_rows"),
            graft.functions.BloomSketchAgg(col("shingle"), 262144, 3)
              .as("sketch"))
          .write.mode("overwrite").parquet(store)
      }
      // bounded driver fetch: ONE merged 32 KB sketch, never row data
      val merged = sp.read.parquet(store)
        .agg(graft.functions.BloomMerge(col("sketch")).as("m"))
        .head().getAs[Array[Byte]](0)
      val sk = graft.functions.BloomSketch.fromBytes(merged)
      val docs = Tables(sp, dir, "documents")
      val newDocs = docs.filter(col("doc_id") % 2 =!= 0)
      val oldHashes = Dedup
        .shingleHashSet(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3)
        .select(col("shingle")).distinct()
        .withColumn("seen_exact", lit(true))
      val per = Dedup.shingleHashSet(newDocs, "doc_id", "text", 3)
        .withColumn("seen_bloom",
          graft.functions.BloomSketch.probeColumn(col("shingle"), merged))
        .join(oldHashes, Seq("shingle"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(col("seen_bloom").cast("long")).as("n_seen_bloom"),
          sum(coalesce(col("seen_exact"), lit(false)).cast("long"))
            .as("n_seen_exact"))
      newDocs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_seen_bloom"), lit(0L)).as("n_seen_bloom"),
          coalesce(col("n_seen_exact"), lit(0L)).as("n_seen_exact"))
        .withColumn("n_false_pos", col("n_seen_bloom") - col("n_seen_exact"))
        .withColumn("containment", when(col("n_shingles") > 0,
          col("n_seen_bloom").cast("double") / col("n_shingles")))
        .withColumn("set_bits", lit(sk.setBits))
        .withColumn("fpp_est", round(lit(sk.fppEstimate), 4))
        .orderBy("doc_id")
    },
    Some {
      val rows = graft.functions.BloomSketch.sqlRowParams.take(3)
      def routed(src: String, cols: String): String = rows.map { case (a, b) =>
        s"SELECT $cols, (($a * (h % 2147483647) + $b) % 2147483647) % 262144 AS pos FROM $src"
      }.mkString("\n        UNION ALL ")
      s"""
      WITH $shingleHashSql,
      old AS (SELECT DISTINCT h FROM hs WHERE doc_id % 2 = 0),
      oldrouted AS (
        ${routed("old", "h")}),
      bits AS (SELECT DISTINCT pos FROM oldrouted),
      bc AS (SELECT CAST(COUNT(*) AS BIGINT) AS set_bits FROM bits),
      new_sh AS (SELECT doc_id, h FROM hs WHERE doc_id % 2 <> 0),
      newrouted AS (
        ${routed("new_sh", "doc_id, h")}),
      hit AS (
        SELECT nr.doc_id, nr.h,
          BOOL_AND(b.pos IS NOT NULL) AS seen_bloom
        FROM newrouted nr LEFT JOIN bits b ON nr.pos = b.pos
        GROUP BY 1, 2),
      per AS (
        SELECT hi.doc_id, COUNT(*) AS n_shingles,
          SUM(CASE WHEN hi.seen_bloom THEN 1 ELSE 0 END) AS n_seen_bloom,
          SUM(CASE WHEN o.h IS NOT NULL THEN 1 ELSE 0 END) AS n_seen_exact
        FROM hit hi LEFT JOIN old o ON hi.h = o.h
        GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
        CAST(COALESCE(p.n_seen_bloom, 0) AS BIGINT) AS n_seen_bloom,
        CAST(COALESCE(p.n_seen_exact, 0) AS BIGINT) AS n_seen_exact,
        CAST(COALESCE(p.n_seen_bloom, 0) - COALESCE(p.n_seen_exact, 0)
          AS BIGINT) AS n_false_pos,
        CASE WHEN p.n_shingles > 0
             THEN CAST(p.n_seen_bloom AS DOUBLE) / p.n_shingles END
          AS containment,
        bc.set_bits,
        ROUND(POWER(bc.set_bits / 262144.0, 3), 4) AS fpp_est
      FROM documents d
      LEFT JOIN per p ON d.doc_id = p.doc_id
      CROSS JOIN bc
      WHERE d.doc_id % 2 <> 0
      ORDER BY d.doc_id"""
    })

  /** DuckDB mirror of the 62-bit token-shingle hash over a string SQL
    * expression (the t06/t15 inline pattern, local copy for d24). */
  private def hash62Sql(s: String): String =
    s"""(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, CAST(len($s) AS INT)),
       |      i -> CAST(ascii(substr($s, i, 1)) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % 2147483647)
       |  + (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, CAST(len($s) AS INT)),
       |        i -> CAST(ascii(substr($s, i, 1)) AS BIGINT))),
       |      (a, b) -> (a * 131 + b) % 2147483647) << 31))""".stripMargin

  /** Exact-substring duplication scan — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * method's distributed form: every length-8 token window that
    * occurs ≥2 times ANYWHERE in the corpus (cross-doc or within-doc)
    * marks its positions, and per doc the marked windows merge into
    * MAXIMAL duplicated spans (interval union over [pos, pos+8)) —
    * the span list is what a surgical-removal pass cuts, and
    * dup_frac is the repetition signal d13's fixed blocks and t13's
    * sentence grain both miss (a duplicated passage that straddles
    * block/sentence boundaries still lights up here).
    *
    * Scale shape: the corpus-frequency pipeline rides the fused
    * [[graft.functions.ShingleHashes]] kernel — one 8-byte hash per
    * window position, never the 8-gram string (the d01/t06 rule); the
    * span merge is two window passes PARTITIONED BY doc (state
    * bounded by the doc's own window count — the doc is the unit);
    * everything stays exact integers until the one dup_frac division,
    * so the oracle replays the hash chain and the island merge
    * row for row. */
  /** d24's scan over an arbitrary (doc_id, text) frame, window length
    * exposed — DedupSpec plants a shared passage and asserts span
    * geometry on a synthetic corpus. */
  def substringDupScan(
      docs0: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.ShingleHashes
    val docs = docs0.select(col("doc_id"), col("text"))
    val wins = docs.select(col("doc_id"),
      posexplode(ShingleHashes(col("text"), n, dedupe = false))
        .as(Seq("pos", "h")))
    val dup = wins.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val islands = wins.join(dup, "h")
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("ni",
        when(col("prev").isNull || col("pos") > col("prev") + n, 1L)
          .otherwise(0L))
      .withColumn("island", sum("ni").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    val spans = islands.groupBy("doc_id", "island")
      .agg(min("pos").as("s"), max("pos").as("m"))
      .select(col("doc_id"), (col("m") + n - col("s")).as("span_tokens"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_tokens").as("dup_tokens"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(ShingleHashes(col("text"), n, dedupe = false)).cast("long")
          .as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_frac"))
      .orderBy("doc_id")
  }

  val d24 = QueryDef(
    "d24_substring_dedup",
    (sp, dir) => substringDupScan(Tables(sp, dir, "documents"), n = 8),
    Some {
      val g8 = (1 to 8).map(j => s"w[i + ${j - 1}]").mkString(" || ' ' || ")
      s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      grams AS (SELECT doc_id, unnest(CASE WHEN len(w) < 8 THEN []
                 ELSE list_transform(generate_series(1, CAST(len(w) - 7 AS INT)),
                        i -> {'pos': i - 1, 'g': $g8}) END) AS z
               FROM toks),
      wins AS (SELECT doc_id, z.pos AS pos, ${hash62Sql("z.g")} AS h
               FROM grams),
      dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
      d AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
      l AS (SELECT doc_id, pos,
              LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM d),
      fl AS (SELECT doc_id, pos,
               CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END AS ni
             FROM l),
      isl AS (SELECT doc_id, pos,
                SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS UNBOUNDED PRECEDING) AS island
              FROM fl),
      sp AS (SELECT doc_id, island, MAX(pos) + 8 - MIN(pos) AS span_tokens
             FROM isl GROUP BY 1, 2),
      pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
             FROM sp GROUP BY 1),
      base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
                 CAST(GREATEST(len(w) - 7, 0) AS BIGINT) AS n_windows
               FROM toks)
      SELECT b.doc_id, b.n_tokens, b.n_windows,
        COALESCE(p.n_spans, 0) AS n_spans,
        COALESCE(p.dup_tokens, 0) AS dup_tokens,
        CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / b.n_tokens AS dup_frac
      FROM base b LEFT JOIN pd p USING (doc_id)
      ORDER BY b.doc_id"""
    })

  /** DELETE on the persisted dedup index — the verb that completes
    * row-level deletes across ALL FOUR stored index families (IVF
    * s23, text s25, IVFPQ via s23's tombstones, and now the MinHash/
    * LSH store): [[graft.operators.DedupIndex.deleteDocs]] commits
    * the doomed ids as ONE keys-only tombstone segment — O(deleted
    * ids), zero index rows rewritten — and every read subtracts them
    * with the version-aware MoR anti-join: the doc's banded keys stop
    * matching probes, its registry row disappears, and every
    * CANDIDATE PAIR touching it dies (either endpoint dead kills the
    * pair — the two-sided subtraction naive MoR misses), while a
    * later re-ingest revives through newer segments (spec-proven).
    * The entry reads the TOMBSTONED store's pair set into per-doc
    * partner counts over the surviving registry; the oracle
    * recomputes the full MinHash(16)+LSH(4×4) chain from scratch and
    * keeps only pairs whose BOTH endpoints survive — over-deletion
    * (a one-sided subtraction) or resurrection both break the hash.
    * Determinism: exact integer chain, counts, total ORDER BY. */
  val d25 = QueryDef(
    "d25_index_delete",
    (sp, dir) => {
      val fp = graft.sources.IngestFixtures.fingerprint(s"$dir/documents.parquet")
      val store = graft.sources.IngestFixtures.path(s"d25_store_$fp")
      graft.sources.IngestFixtures.once(s"d25_$fp") {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(store)).deleteRecursively()
        val docs = Tables(sp, dir, "documents")
        graft.operators.DedupIndex.write(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          shingleN = 3, k = 16, bands = 4, rows = 4, store)
        graft.operators.DedupIndex.installAppended(sp, store,
          docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
          shingleN = 3, k = 16, bands = 4, rows = 4)
        graft.operators.DedupIndex.deleteDocs(sp, store,
          docs.select("doc_id").filter(pmod(col("doc_id"), lit(7L)) === 0))
      }
      val cands = graft.operators.DedupIndex.readPairs(sp, store)
      val partners = cands.select(col("d1").as("doc_id"))
        .unionAll(cands.select(col("d2").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      graft.operators.DedupIndex.readDocs(sp, store)
        .join(partners, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $shingleHashSql,
      $minhashCandSql,
      live AS (SELECT d1, d2 FROM cands
               WHERE d1 % 7 <> 0 AND d2 % 7 <> 0),
      partners AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM (
          SELECT d1 AS doc_id FROM live UNION ALL SELECT d2 FROM live)
        GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(p.n, 0) AS n_candidates
      FROM documents d LEFT JOIN partners p ON d.doc_id = p.doc_id
      WHERE d.doc_id % 7 <> 0
      ORDER BY d.doc_id"""))

  val defs: Seq[QueryDef] =
    Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13,
      d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, d24, d25)
}
