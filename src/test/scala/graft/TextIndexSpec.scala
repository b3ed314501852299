package graft

import graft.operators.TextIndex
import graft.sources.TxLog
import org.apache.spark.sql.functions._

/** Cross-run BM25 inverted-index persistence
  * (graft.operators.TextIndex, the s22 contract): grow-then-search ≡
  * one-shot build, O(delta) grow (untouched segments byte-identical;
  * one commit per install), bucket/word pruning in the search plan
  * with the corpus source absent, and the over-limit full-scan
  * fallback agreeing with the pruned plan. */
class TextIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmpStore(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_textidx_$tag")
      .toString + "/store"

  private def docs = Tables(spark, dir, "documents").select("doc_id", "text")
  private def corpus = docs.filter(col("doc_id") >= 10)
  private def queries = docs.filter(col("doc_id") < 10)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("q_id", "rank").collect().toSeq

  /** (relative path → (size, mtime)) of every data file under root,
    * excluding txlog + meta — the grow-never-rewrites witness. */
  private def fileState(root: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
        .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val rootF = new java.io.File(root)
    walk(rootF)
      .filterNot(f => f.getPath.contains("_txlog") ||
        f.getPath.contains("_meta"))
      .map(f => f.getPath.stripPrefix(rootF.getPath) ->
        (f.length, f.lastModified))
      .toMap
  }

  test("grow-then-search equals the one-shot build (df spans segments)") {
    val oneShot = tmpStore("oneshot")
    TextIndex.writePostings(corpus, oneShot)
    val grown = tmpStore("grown")
    TextIndex.writePostings(corpus.filter(col("doc_id") % 2 === 0), grown)
    TextIndex.appendDocs(spark, grown, corpus.filter(col("doc_id") % 2 =!= 0))
    val a = rows(TextIndex.searchBm25(spark, oneShot, queries, k = 10))
    val b = rows(TextIndex.searchBm25(spark, grown, queries, k = 10))
    assert(a.nonEmpty && a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("grow is O(delta): one commit, existing files byte-identical") {
    val store = tmpStore("odelta")
    TextIndex.writePostings(corpus.filter(col("doc_id") % 2 === 0), store)
    val v0 = TxLog.latestVersion(store).get
    val before = fileState(store)
    TextIndex.appendDocs(spark, store, corpus.filter(col("doc_id") % 2 =!= 0))
    assert(TxLog.latestVersion(store).get === v0 + 1, "grow must be ONE commit")
    val after = fileState(store)
    before.foreach { case (path, sig) =>
      assert(after.get(path).contains(sig),
        s"grow rewrote pre-existing file $path")
    }
    val families = TxLog.liveSegments(store, v0 + 1)
    Seq("postings", "stats").foreach { fam =>
      assert(families.count(_.startsWith(s"${fam}__")) === 2,
        s"family $fam should hold exactly build+grow segments")
    }
    assert(!families.exists(_.startsWith("doclen__")),
      "doc length is denormalized into the postings — no doclen family")
  }

  test("search plan prunes buckets, pushes the word filter, never reads the corpus") {
    val store = tmpStore("prune")
    TextIndex.writePostings(corpus, store)
    // queries land as their own file (the s22 shape) so the corpus
    // source's absence from the plan is meaningful
    val qpath = tmpStore("prune") + "_queries"
    queries.write.mode("overwrite").parquet(qpath)
    // the Σ df-bounded matched frame is truncated while the search is
    // built, so the returned plan starts at the snapshot: the pushdown
    // contract is audited on the plan of the truncation's own
    // execution (Dataset.localCheckpoint runs under withAction, which
    // reports it to QueryExecutionListeners)
    val ckPlans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (fn == "localCheckpoint")
          ckPlans.synchronized(ckPlans += qe.executedPlan.toString)
      def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val res =
      try TextIndex.searchBm25(spark, store, spark.read.parquet(qpath), k = 10)
      finally {
        org.apache.spark.sql.graft.Bridge.drainListenerBus(
          spark.sparkContext, 60000L)
        spark.listenerManager.unregister(listener)
      }
    assert(ckPlans.size === 1, "expected exactly one truncation of the matched frame")
    val scan = ckPlans.head
    val p = scan + res.queryExecution.executedPlan.toString
    assert(!p.contains("documents.parquet"),
      "search plan must read only the store and the query frame")
    assert(!p.contains("doclen"),
      "search must never scan a corpus-proportional doc-length table " +
        "(dl is denormalized into the posting rows)")
    assert(scan.contains("bucket"), "bucket partition filter missing")
    assert("PushedFilters: \\[[^\\]]*word".r.findFirstIn(scan).isDefined,
      "word IN-list did not push down to the postings scan")
    assert(res.limit(1).count() === 1)
    // the reliable-checkpoint truncation (checkpoint dir set) returns
    // the identical rows
    val want = res.collect().map(_.toString).sorted
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    val got = org.apache.spark.sql.graft.Bridge.withCheckpointDir(
        spark.sparkContext, Some(ckDir)) {
      TextIndex.searchBm25(spark, store, spark.read.parquet(qpath), k = 10)
        .collect().map(_.toString).sorted
    }
    assert(got === want)
  }

  test("compactFamily folds grown postings to one segment; search unchanged") {
    val store = tmpStore("compact")
    TextIndex.writePostings(corpus.filter(col("doc_id") % 2 === 0), store)
    TextIndex.appendDocs(spark, store, corpus.filter(col("doc_id") % 2 =!= 0))
    val before = rows(TextIndex.searchBm25(spark, store, queries, k = 10))
    // the generic txlog OPTIMIZE applies unchanged: TextIndex shares
    // AnnIndex's store layout (family segments + pinned _meta schema)
    graft.operators.AnnIndex.compactFamily(spark, store, "postings",
      Seq("bucket"))
    val live = TxLog.liveSegments(store, TxLog.latestVersion(store).get)
    assert(live.count(_.startsWith("postings__")) === 1)
    assert(live.count(_.startsWith("stats__")) === 2, "siblings untouched")
    val after = rows(TextIndex.searchBm25(spark, store, queries, k = 10))
    assert(before.nonEmpty && before.size == after.size)
    before.zip(after).foreach { case (x, y) => assert(x == y) }
  }

  test("deleteDocs: search equals a rebuild on survivors; re-ingest revives; MoR compact applies") {
    val store = tmpStore("del")
    TextIndex.writePostings(corpus.filter(col("doc_id") % 2 === 0), store)
    TextIndex.appendDocs(spark, store, corpus.filter(col("doc_id") % 2 =!= 0))
    val doomed = corpus.select("doc_id").filter(col("doc_id") % 7 === 0)
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    assert(doomedIds.size >= 2, "fixture must tombstone several docs")
    TextIndex.deleteDocs(spark, store, doomed)
    // df AND the corpus stats must subtract the deleted docs exactly:
    // the tombstoned search hash-equals a from-scratch survivor build
    val oracle = tmpStore("delOracle")
    TextIndex.writePostings(corpus.filter(col("doc_id") % 7 =!= 0), oracle)
    val a = rows(TextIndex.searchBm25(spark, store, queries, k = 10))
    val b = rows(TextIndex.searchBm25(spark, oracle, queries, k = 10))
    assert(a.nonEmpty && a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    assert(!a.exists(r => doomedIds(r.getLong(r.fieldIndex("n_id")))),
      "a tombstoned doc surfaced in the search")
    // deleting an already-dead id is a no-op on stats (no live rows)
    TextIndex.deleteDocs(spark, store,
      doomed.limit(1))
    val a2 = rows(TextIndex.searchBm25(spark, store, queries, k = 10))
    a.zip(a2).foreach { case (x, y) => assert(x == y) }
    // re-ingesting one deleted doc revives it (tombstones are
    // version-aware) and matches the equivalent fresh build
    val back = doomedIds.min
    TextIndex.appendDocs(spark, store,
      corpus.filter(col("doc_id") === back))
    val oracle2 = tmpStore("delOracle2")
    TextIndex.writePostings(
      corpus.filter(col("doc_id") % 7 =!= 0 || col("doc_id") === back),
      oracle2)
    val c = rows(TextIndex.searchBm25(spark, store, queries, k = 10))
    val d = rows(TextIndex.searchBm25(spark, oracle2, queries, k = 10))
    assert(c.size == d.size)
    c.zip(d).foreach { case (x, y) => assert(x == y) }
    // the over-limit full-scan fallback applies the same tombstone
    // subtraction as the pruned plan
    val fb = rows(TextIndex.searchBm25(spark, store, queries, k = 10,
      termPruneLimit = 0L))
    c.zip(fb).foreach { case (x, y) => assert(x == y) }
    // raw compactFamily must refuse the tombstoned postings family —
    // it would resurrect every deleted row
    val guard = intercept[IllegalArgumentException] {
      graft.operators.AnnIndex.compactFamily(spark, store, "postings",
        Seq("bucket"))
    }
    assert(guard.getMessage.contains("compactIndexMoR"))
    // the MoR compactor applies tombstones physically AND rewrites
    // stats; search is bit-identical after
    val cv = TextIndex.compactIndexMoR(spark, store)
    val live = TxLog.liveSegments(store, cv)
    assert(live.count(_.startsWith("postings__")) === 1)
    assert(live.count(_.startsWith("stats__")) === 1)
    assert(!live.exists(_.startsWith("deletes__")),
      "compaction must retire tombstones")
    val e = rows(TextIndex.searchBm25(spark, store, queries, k = 10))
    assert(c.size == e.size)
    c.zip(e).foreach { case (x, y) => assert(x == y) }
  }

  test("over-limit fallback (full-bucket scan) agrees with the pruned plan") {
    val store = tmpStore("fallback")
    TextIndex.writePostings(corpus, store)
    val pruned = rows(TextIndex.searchBm25(spark, store, queries, k = 5))
    val full = rows(TextIndex.searchBm25(spark, store, queries, k = 5,
      termPruneLimit = 0L))
    assert(pruned.nonEmpty && pruned.size == full.size)
    pruned.zip(full).foreach { case (x, y) => assert(x == y) }
  }
}
