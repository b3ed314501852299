package graft.operators

import graft.sources.TxLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-run persistence for the LEXICAL retrieval index — the text
  * twin of [[AnnIndex]], and the store [[graft.queries
  * .SimilarityQueries]]'s hybrid search (s21) promises at scale: a
  * 100 TB corpus tokenizes ONCE into a bucket-partitioned inverted
  * index and serves BM25 queries forever, so the postings, the
  * per-doc lengths, and the corpus totals must outlive the process
  * that built them and grow O(delta) as new documents land.
  *
  * Store layout — ONE txlog table dir, segments prefixed by family
  * ([[AnnIndex]]'s discipline; one commit covers an install
  * atomically):
  * {{{
  *   <store>/_txlog/v<N>.json              — manifests (TxLog)
  *   <store>/postings__seg<N>/bucket=<b>/  (n_id, word, tf, dl)
  *   <store>/stats__seg<N>/                (nd, tok) — 1 row/segment
  *   <store>/_meta/                        — pinned postings schema
  * }}}
  *
  * Scale notes:
  *  - GROW IS O(delta): [[appendDocs]] tokenizes ONLY the
  *    installment and commits one postings + stats segment pair
  *    behind a single manifest; untouched segments are never
  *    read or rewritten. Document frequency is never stored — df is
  *    an additive COUNT over the (disjoint-by-doc) postings
  *    segments, so growth needs no read-modify-write of any global
  *    dictionary, the classic inverted-index update trap.
  *  - Postings are PARTITIONED BY a fixed word-hash bucket inside
  *    each segment: a query batch touches only its own terms'
  *    buckets (static IN prune from the batch's bucket set, bounded
  *    by [[NBuckets]]) and its term list pushes down as a parquet
  *    word-IN filter, so the scan cost is Σ df(query terms)
  *    postings, never the corpus.
  *  - Corpus stats (N docs, Σ doc length) fold additively over the
  *    1-row stats segments and ride a 1-row broadcast into scoring.
  *  - The per-doc length is DENORMALIZED into every posting row
  *    (one extra long per posting — Lucene's norms-in-the-index
  *    layout): dl is a per-installment fact (installments are
  *    disjoint by doc), so it is known exactly at write time and
  *    search never touches a corpus-proportional doc-length table —
  *    the whole search scan set is Σ df(query terms) postings plus
  *    the 1-row-per-segment stats (plan-audited in TextIndexSpec).
  *  - [[AnnIndex.compactFamily]] is the OPTIMIZE: fold accumulated
  *    grow segments per family back into one, atomically, with all
  *    historical versions still snapshot-readable.
  *
  * Determinism (the s21 contract, unchanged by storage): BM25
  * per-term contributions are fixed IEEE chains on exact-integer
  * (tf, df, dl, nd, tok) inputs, summed as an ORDERED word-sorted
  * fold, rounded to 4 decimals BEFORE ranking, ranked with a doc-id
  * tiebreak — so search-of-stored hash-matches a from-scratch batch
  * recompute at any segmentation of the corpus.
  */
object TextIndex {

  /** Fixed word-hash bucket count for the postings partitioning.
    * Small by design: the partition count bounds the file fan-out of
    * every segment (N grows × NBuckets files), while word-level
    * pruning inside a bucket rides the parquet word-IN pushdown. */
  val NBuckets = 16

  /** Query-term ceiling for the collected static prune lists: below
    * it the batch's distinct terms collect to the driver and push
    * down as bucket- and word-IN filters (probe-shaped batches);
    * above it the scan takes every bucket and the broadcast term
    * join alone does the pruning (large offline batches). */
  val TermPruneLimit: Long = 100000L

  private def segName(store: String, family: String): String =
    s"${family}__seg${TxLog.versions(store).size}"

  /** One query term's BM25 (k1=1.2, b=0.75) contribution over the
    * exact-integer columns (tf, df, dl, nd, tok) — THE scoring
    * expression: [[searchBm25]] and the s21 in-process lexical arm
    * both build from it, so stored-index search and batch recompute
    * can never drift. A fixed IEEE op chain (ln is the only
    * transcendental); callers sum word-ordered and round to 4
    * decimals before ranking. */
  def bm25Contrib: org.apache.spark.sql.Column =
    log(((col("nd") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
      ((col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
          lit(0.75) * (col("dl").cast("double") /
            (col("tok").cast("double") / col("nd").cast("double"))))))

  /** (n_id, word, tf, bucket) of an installment — one wordcount
    * shuffle, the only corpus-proportional work in the store. */
  private def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("n_id"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("n_id", "word").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("word")), lit(NBuckets.toLong)))

  private def writeSegments(docs: DataFrame, store: String,
      removes: Seq[String]): Unit = {
    val pSeg = segName(store, "postings")
    val tf0 = termFreqs(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dl denormalizes into the posting rows (one join over the
    // installment, paid ONCE at write time) so search reads it from
    // the already-pruned postings scan instead of re-joining a
    // corpus-proportional doc-length table per query batch
    val dl = tf0.groupBy("n_id").agg(sum("tf").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = tf0.join(dl, "n_id")
      .select("n_id", "word", "tf", "dl", "bucket")
    tf.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$store/$pSeg")
    val metaF = new java.io.File(store, "_meta")
    if (!metaF.exists()) {
      metaF.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(metaF, "postings_schema.json").toPath,
        tf.schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val sSeg = segName(store, "stats")
    dl.agg(count(lit(1)).as("nd"), sum("dl").as("tok"))
      .write.mode("overwrite").parquet(s"$store/$sSeg")
    tf0.unpersist(); dl.unpersist()
    TxLog.commit(store, adds = Seq(pSeg, sSeg), removes = removes)
    ()
  }

  /** Build and persist the inverted index for a corpus installment:
    * postings + stats in ONE atomic commit (replacing any prior
    * build — including any legacy doclen segments and, since a full
    * rebuild replaces the postings the tombstones applied to, any
    * live delete tombstones). `docs`: (doc_id, text). Returns the
    * store path. */
  def writePostings(docs: DataFrame, store: String): String = {
    writeSegments(docs, store,
      removes = Seq("postings", "doclen", "stats", TxLog.DeletesFamily)
        .flatMap(TxLog.familySegments(store, _)))
    store
  }

  /** Grow the persisted index — O(delta): tokenize ONLY the new
    * installment (doc_ids must be new to the store; re-ingesting a
    * live doc_id double-counts it, the same append contract as
    * [[TxLog.appendBatch]] tables) and commit its two segments
    * behind a single manifest. Existing segments are never read. */
  def appendDocs(sp: SparkSession, store: String, docs: DataFrame): Unit =
    writeSegments(docs, store, removes = Seq.empty)

  private def familyPaths(store: String, family: String): Seq[String] = {
    val segs = TxLog.familySegments(store, family)
    require(segs.nonEmpty, s"store $store has no live '$family' segments")
    segs.map(s => s"$store/$s")
  }

  private def pinnedSchema(store: String)
      : org.apache.spark.sql.types.StructType = {
    val metaF = new java.io.File(new java.io.File(store, "_meta"),
      "postings_schema.json")
    require(metaF.exists(), s"store $store has no pinned postings schema")
    org.apache.spark.sql.types.DataType.fromJson(
        new String(java.nio.file.Files.readAllBytes(metaF.toPath),
          java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Live tombstones as (__del_id, __del_dl, __dv), or None when the
    * store has never seen a delete (zero plan overhead then). Each
    * tombstone row records ONE then-live doc instance: its id, its
    * denormalized length (so corpus stats subtract exactly), and the
    * delete's commit version (so the anti-join is version-aware). */
  private def liveDeletes(sp: SparkSession, store: String)
      : Option[DataFrame] = {
    val latest = TxLog.latestVersion(store)
      .getOrElse(sys.error(s"store $store has no commits"))
    val segs = TxLog.liveSegmentsWithVersion(store, latest)
      .filter(_._1.startsWith(s"${TxLog.DeletesFamily}__"))
    if (segs.isEmpty) None
    else Some(segs.map { case (s, v) =>
      sp.read.parquet(s"$store/$s")
        .select(col("n_id").as("__del_id"), col("dl").as("__del_dl"))
        .withColumn("__dv", lit(v))
    }.reduce(_.unionByName(_)))
  }

  /** The live postings with the build-time schema pinned from the
    * `_meta` sidecar (partition-type inference bypassed — the
    * [[AnnIndex.readPinned]] rule). Each segment is its own
    * partition-discovery root, unioned by name. With live tombstones
    * the version-aware MoR anti-join applies (a tombstone kills only
    * postings from segments committed BEFORE it, so a re-ingested
    * doc revives — [[AnnIndex.readPostings]]'s rule); bucket/word
    * predicates still push through the anti-join's left side into
    * every segment scan, so search pruning is unaffected. */
  def readPostings(sp: SparkSession, store: String): DataFrame = {
    val schema = pinnedSchema(store)
    liveDeletes(sp, store) match {
      case None =>
        familyPaths(store, "postings")
          .map(p => sp.read.schema(schema).parquet(p))
          .reduce(_.unionByName(_))
      case Some(dels) =>
        val latest = TxLog.latestVersion(store).get
        val data = TxLog.liveSegmentsWithVersion(store, latest)
          .filter(_._1.startsWith("postings__"))
          .map { case (s, v) =>
            sp.read.schema(schema).parquet(s"$store/$s")
              .withColumn("__v", lit(v))
          }.reduce(_.unionByName(_))
        data.join(broadcast(dels.select("__del_id", "__dv")),
            data("n_id") === dels("__del_id") && dels("__dv") > data("__v"),
            "left_anti")
          .drop("__v")
    }
  }

  /** Tombstone-delete stored documents by id — the text twin of
    * [[AnnIndex.deleteVectors]], completing the verb set (build /
    * grow / compact / DELETE / search) for the lexical store: the
    * doomed docs' (n_id, dl) pairs land as ONE keys-only segment
    * behind one commit, zero postings rewritten. The lookup reads
    * only the two denormalized columns of the live postings (a
    * column-pruned scan — the Delta DELETE shape: find the matching
    * rows, commit their keys), and only THEN-LIVE docs produce
    * tombstone rows, so corpus stats subtract exactly one historical
    * doc instance per row and a delete of an already-dead id is a
    * no-op. `ids`: one column of doc ids. */
  def deleteDocs(sp: SparkSession, store: String, ids: DataFrame): Unit = {
    val doomed = readPostings(sp, store)
      .join(ids.select(col(ids.columns.head).as("n_id")).distinct(), "n_id")
      .select("n_id", "dl").distinct()
    TxLog.commitDeletes(doomed, store)
    ()
  }

  /** Apply the tombstones physically — [[AnnIndex.compactPostingsMoR]]
    * with the text store's extra obligation: the 1-row stats segments
    * still carry the deleted docs' (nd, tok) contributions, so the
    * compactor RECOMPUTES corpus stats from the surviving postings
    * (exact longs: distinct (n_id, dl) pairs) and swaps postings +
    * stats + tombstones in ONE atomic commit. Prior versions stay
    * snapshot-readable. Returns the committed version. */
  def compactIndexMoR(sp: SparkSession, store: String): Int = {
    val old = Seq("postings", "stats", TxLog.DeletesFamily)
      .flatMap(TxLog.familySegments(store, _))
    val pSeg = segName(store, "postings")
    val survivors = readPostings(sp, store)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    survivors.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$store/$pSeg")
    val sSeg = segName(store, "stats")
    survivors.select("n_id", "dl").distinct()
      .agg(count(lit(1)).as("nd"),
        coalesce(sum("dl"), lit(0L)).as("tok"))
      .write.mode("overwrite").parquet(s"$store/$sSeg")
    survivors.unpersist()
    // per-family stats carry-forward (sound: MoR subtraction only
    // shrinks ranges; merging per family keeps ranges family-local)
    TxLog.mergeSegmentStats(store, TxLog.familySegments(store, "postings"), pSeg)
    TxLog.mergeSegmentStats(store, TxLog.familySegments(store, "stats"), sSeg)
    // maintenance: postings minus tombstones and the recomputed stats
    // describe the same logical index — incremental readers step over
    TxLog.commit(store, adds = Seq(pSeg, sSeg), removes = old,
      dataChange = false)
  }

  /** BM25 (k1=1.2, b=0.75) top-k search against the STORED index.
    * `queries`: (doc_id, text) — tokenized with the same rule as the
    * corpus. Identical math to the s21 lexical arm over the same
    * corpus, so search-of-stored hash-matches the batch recompute. */
  def searchBm25(sp: SparkSession, store: String, queries: DataFrame,
      k: Int, termPruneLimit: Long = TermPruneLimit): DataFrame = {
    val qterms = queries
      .select(col("doc_id").as("q_id"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
    val postingsAll = readPostings(sp, store)
    // probe-shaped batch: the distinct term dictionary collects (one
    // bounded job — limit+1 rows decide the gate) and pushes down as
    // static bucket + word IN lists, pruning partitions and parquet
    // row groups; an over-limit offline batch scans every bucket and
    // lets the broadcast term join do the pruning
    val terms = qterms.select(col("word"),
        pmod(xxhash64(col("word")), lit(NBuckets.toLong)).as("bucket"))
      .distinct().limit(termPruneLimit.toInt + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val postings =
      if (terms.length <= termPruneLimit) {
        val words = terms.map(_._1).toSeq
        val buckets = terms.map(_._2).distinct.toSeq
        postingsAll.filter(col("bucket").isin(buckets: _*) &&
          col("word").isin(words: _*))
      } else postingsAll
    // matched is Σ df(query terms)-bounded BY CONSTRUCTION (the bucket
    // + word pushdown above caps the scan at the query terms' postings)
    // and the plan references it TWICE — df derivation + scoring — so
    // un-truncated each reference re-ran the pruned postings scan.
    // Truncation (checkpoint-dir-aware) pins it to ONE scan; at 100 TB
    // that halves the postings I/O per probe batch.
    val matched = org.apache.spark.sql.graft.Bridge.truncateBounded(
      postings.join(broadcast(qterms), "word"))
    // df re-derives additively from the matched postings themselves:
    // installments are disjoint by doc, so COUNT per word over the
    // pruned scan IS the corpus df — no stored dictionary to maintain.
    // dl rides IN the posting rows (denormalized at write time), so
    // no corpus-proportional doc-length join exists in this plan.
    val dfw = matched.select("word", "n_id").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    // corpus stats fold additively over the 1-row stats segments;
    // with live tombstones each recorded (n_id, dl) subtracts its
    // doc instance's contribution — exact longs either way, and the
    // tombstone leg is deleted-keys-sized, never corpus-sized
    val statsRaw = sp.read.parquet(familyPaths(store, "stats"): _*)
      .agg(sum("nd").as("nd"), sum("tok").as("tok"))
    val stats = liveDeletes(sp, store) match {
      case None => statsRaw
      case Some(dels) =>
        // 1-row × 1-row equi-join on a constant key (the repo's
        // stats-stitch idiom — a hash join, never a nested loop)
        val sub = dels.agg(count(lit(1)).as("__dn"),
            coalesce(sum("__del_dl"), lit(0L)).as("__dtok"))
          .withColumn("j", pmod(col("__dn"), lit(1L)))
        statsRaw.withColumn("j", pmod(col("nd"), lit(1L)))
          .join(broadcast(sub), "j")
          .select((col("nd") - col("__dn")).as("nd"),
            (col("tok") - col("__dtok")).as("tok"))
    }
    val statsJ = stats.withColumn("j", pmod(col("nd"), lit(1L)))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("n_id"))
    matched.join(broadcast(dfw), "word")
      .withColumn("j", pmod(col("tf"), lit(1L)))
      .join(broadcast(statsJ), "j")
      .select(col("q_id"), col("n_id"),
        struct(col("word"), bm25Contrib.as("c")).as("wc"))
      .groupBy("q_id", "n_id")
      .agg(aggregate(array_sort(collect_list(col("wc"))), lit(0.0),
        (acc, x) => acc + x.getField("c")).as("score"))
      .withColumn("score", round(col("score"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("score"),
        col("rank").cast("int").as("rank"))
  }
}
