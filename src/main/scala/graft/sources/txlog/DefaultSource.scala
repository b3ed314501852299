package graft.sources.txlog

import graft.sources.TxLog
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft.sources.txlog")` — the transaction-log
  * table as a FIRST-CLASS DataSource, so a SQL/DataFrame user reaches
  * the format the way they reach parquet (and `CREATE TABLE ... USING
  * graft.sources.txlog` works through the catalog):
  *
  * {{{
  *   spark.read.format("graft.sources.txlog")
  *     .option("asOf", 3)                   // time travel (default: latest)
  *     .option("keyCols", "id")             // explicit MoR key columns
  *     .option("mergeSchema", "true")       // schema evolution read
  *     .option("raw", "true")               // escape hatch: ignore tombstones
  *     .load(dir)
  *   df.write.format("graft.sources.txlog")
  *     .mode(SaveMode.Append).save(dir)     // one segment, one commit
  * }}}
  *
  * Row-level deletes APPLY BY DEFAULT (the Delta/Iceberg contract):
  * when the pinned version has live tombstone segments and no
  * `keyCols` option is given, the key columns derive from the
  * tombstone segment's own parquet schema and the read is
  * merge-on-read automatically — a reader who never heard of keyCols
  * must not silently see deleted rows. `raw=true` opts back into the
  * tombstone-ignoring snapshot.
  *
  * Built on the STABLE V1 source API ([[RelationProvider]] +
  * [[PrunedFilteredScan]]): `buildScan` applies the pruned columns and
  * pushed filters to the inner [[TxLog.snapshot]]/[[TxLog.snapshotMoR]]
  * DataFrame BEFORE taking its RDD, so column pruning and predicate
  * pushdown reach the underlying parquet segment scans (the inner plan
  * is a normal multi-path parquet read with PushedFilters). The known
  * cost of the V1 bridge: the outer plan sees an RDD scan, so the
  * format boundary is a codegen fence — right for the interactive /
  * catalog surface this serves; performance-critical pipelines call
  * TxLog.snapshot directly and stay fused (both paths are the same
  * segments, same manifests).
  */
class DefaultSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-txlog"

  // ---- spark.writeStream.format("graft-txlog"): exactly-once sink --
  //
  // Each micro-batch lands as ONE segment behind one manifest commit
  // via TxLog.appendBatch — the engine-driven surface of the
  // foreachBatch pattern the entries e28/e41 hand-roll: the segment
  // name derives from batchId, so a crash-after-commit redelivery is
  // recognized against the manifest-HISTORY ledger and skipped
  // without data writes (end-to-end exactly-once, checkpoint +
  // manifest together). Append output mode only: the txlog is an
  // append-only segment log; aggregations needing Update/Complete
  // semantics belong in foreachBatch with an explicit merge verb.
  // option("statsCols", ...) records each batch segment's skipping
  // sidecar, the same option the batch writer takes.
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-txlog sink is append-only (the txlog is a segment log), " +
        s"got $outputMode")
    val dir = path(parameters)
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // engine-provided partitionBy(...) and the format's own
    // `partitionBy` option are the same request — each micro-batch
    // lands one segment PER PARTITION VALUE behind its single commit
    val parts =
      if (partitionColumns.nonEmpty) partitionColumns
      else partitionByOf(parameters)
    new TxLogSink(dir, statsCols, TxLogChecks.parse(parameters),
      bloomColsOf(parameters), parts)
  }

  // ---- spark.readStream.format("graft-txlog"): versions as offsets --

  private def cdfMode(parameters: Map[String, String]): Boolean =
    parameters.get("cdf").exists(_.trim.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val dir = path(parameters)
    val s = schema.getOrElse {
      val latest = TxLog.latestVersion(dir).getOrElse(sys.error(
        s"txlog stream over $dir needs at least one commit (or pass " +
          "a schema) so the source schema is known"))
      val data = TxLog.snapshot(sqlContext.sparkSession, dir, latest).schema
      if (!cdfMode(parameters)) data
      else StructType(data.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
    }
    (shortName(), s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    new TxLogSource(sqlContext, path(parameters),
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      cdf = cdfMode(parameters),
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger")
        .map(_.trim.toInt),
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger")
        .map(TxLogSource.parseBytes))

  private def path(parameters: Map[String, String]): String = {
    val p = parameters.getOrElse("path",
      sys.error("graft.sources.txlog needs a path — use .load(dir)"))
    // the catalog resolves CREATE TABLE ... OPTIONS(path …) to a
    // file: URI; TxLog's manifest log is java.nio-based local I/O
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val dir = path(parameters)
    val pinned = parameters.get("asOf").map(_.trim.toInt)
    val asOf = pinned
      .orElse(TxLog.latestVersion(dir))
      .getOrElse(sys.error(s"txlog table $dir has no commits"))
    val mergeSchema = parameters.get("mergeSchema")
      .exists(_.trim.equalsIgnoreCase("true"))
    val raw = parameters.get("raw").exists(_.trim.equalsIgnoreCase("true"))
    // Deletes APPLY by default (the Delta/Iceberg contract — a reader
    // who never heard of keyCols must not silently see deleted rows):
    // with live tombstones and no explicit keyCols, the key columns
    // derive from the tombstone segment's own parquet schema (a
    // commitDeletes segment holds exactly the keys). option("raw",
    // "true") is the explicit escape hatch back to the raw snapshot.
    val keyCols = parameters.get("keyCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse {
        if (raw) None
        else {
          // auto-MoR key inference: a commitDeletes segment holds
          // exactly the keys — but ONLY when every live tombstone
          // agrees on them. Differing key sets would silently apply a
          // wider tombstone by a subset of its keys (over-deleting);
          // refuse loudly and make the caller choose.
          val delSegs = TxLog.liveSegments(dir, asOf)
            .filter(_.startsWith(s"${TxLog.DeletesFamily}__"))
          val keySets = delSegs.map(seg => sqlContext.sparkSession.read
            .parquet(s"$dir/$seg").schema.fieldNames.toSeq).distinct
          require(keySets.size <= 1,
            s"txlog table $dir has live tombstone segments with " +
              s"inconsistent key schemas $keySets: pass the keyCols " +
              "option explicitly (or raw=true to ignore tombstones)")
          keySets.headOption
        }
      }
    // the table's statsCols ride the relation so SQL INSERT writes
    // record the same skipping sidecars as the DataFrame writer path.
    // Only an EXPLICIT asOf pins the relation: an unpinned relation
    // re-resolves the latest version per use, so a catalog-cached
    // relation (Spark caches data-source tables by name) sees commits
    // that land after resolution — INSERT INTO then SELECT must show
    // the insert without a manual REFRESH TABLE.
    TxLogRelation(sqlContext, dir, pinned, keyCols, mergeSchema,
      statsColsOf(parameters), TxLogChecks.parse(parameters),
      bloomColsOf(parameters), partitionByOf(parameters),
      dynamicOpt = parameters.get("partitionOverwriteMode")
        .map(_.trim.equalsIgnoreCase("dynamic")))
  }

  private def statsColsOf(parameters: Map[String, String]): Seq[String] =
    parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  private def bloomColsOf(parameters: Map[String, String]): Seq[String] =
    parameters.get("bloomCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  private def partitionByOf(parameters: Map[String, String]): Seq[String] =
    parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Dynamic partition overwrite opt-in: the writer/table option
    * wins; else Spark's own session conf, so `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` behaves the
    * same against this format as against plain parquet. */
  private[txlog] def dynamicOverwriteOf(sqlContext: SQLContext,
      parameters: Map[String, String]): Boolean =
    parameters.get("partitionOverwriteMode")
      .map(_.trim.equalsIgnoreCase("dynamic"))
      .getOrElse(sqlContext.sparkSession.conf
        .get("spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic"))

  /** `df.write.format("graft.sources.txlog").mode(…).save(dir)`: the
    * batch lands as ONE segment behind one atomic manifest commit (the
    * [[TxLog.appendBatch]] discipline with a write-scoped segment
    * name). `Append` adds the segment; `Overwrite` is a LOGICAL
    * truncate — the same single-segment add plus removes of every
    * previously-live segment (tombstones included: they applied to
    * data this commit replaces) in ONE commit, so no reader ever sees
    * a half-replaced table and every prior version stays
    * time-travelable (Delta's `mode(overwrite)` semantics).
    * `ErrorIfExists`/`Ignore` follow their SaveMode contracts against
    * "table has any commit". SQL `INSERT INTO` / `INSERT OVERWRITE`
    * on a `USING graft.sources.txlog` catalog table route to the same
    * two verbs through [[TxLogRelation]]'s InsertableRelation. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = path(parameters)
    val exists = TxLog.latestVersion(dir).isDefined
    // option("statsCols", "a,b"): record per-segment min/max for these
    // columns at write time — the data-skipping sidecar a filtered
    // read prunes segments by before opening any parquet footer
    val statsCols = statsColsOf(parameters)
    val checks = TxLogChecks.parse(parameters)
    val blooms = bloomColsOf(parameters)
    val parts = partitionByOf(parameters)
    val dyn = dynamicOverwriteOf(sqlContext, parameters)
    mode match {
      case SaveMode.Append =>
        TxLogWriter.write(data, dir, overwrite = false, statsCols, checks,
          blooms, parts)
      case SaveMode.Overwrite =>
        TxLogWriter.write(data, dir, overwrite = true, statsCols, checks,
          blooms, parts, dyn)
      case SaveMode.ErrorIfExists =>
        require(!exists, s"txlog table $dir already has commits " +
          "(SaveMode.ErrorIfExists)")
        TxLogWriter.write(data, dir, overwrite = false, statsCols, checks,
          blooms, parts)
      case SaveMode.Ignore =>
        if (!exists)
          TxLogWriter.write(data, dir, overwrite = false, statsCols, checks,
            blooms, parts)
    }
    createRelation(sqlContext, parameters - "asOf")
  }
}

/** The one write verb both the DataFrame writer and the SQL INSERT
  * path share: one segment, one commit; overwrite = logical truncate
  * (adds + removes in a single atomic manifest). Stats sidecars are
  * written BEFORE the commit, so a committed segment's stats are
  * visible whenever the segment is. */
private[txlog] object TxLogWriter {
  def write(data: DataFrame, dir: String, overwrite: Boolean,
      statsCols: Seq[String] = Seq.empty,
      checks: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      dynamicOverwrite: Boolean = false): Unit = {
    new java.io.File(dir).mkdirs()
    val base = f"write__seg${TxLog.versions(dir).size}%06d"
    // `partitionBy` option: NATIVE table partitioning — the batch
    // stages once through Spark's own partitioned write and each
    // value's leaf becomes its own segment (write__segNNNNNNp<i>),
    // all behind the same single commit; partition-predicate scans
    // then prune to exactly the touched values' segments
    val segs =
      if (partitionCols.isEmpty) {
        data.write.mode("overwrite").parquet(s"$dir/$base")
        Seq(base)
      } else TxLog.writePartitionedSegments(data, dir, partitionCols,
        base, statsCols, bloomCols)
    // CHECKs validate the WRITTEN segment(s), not the input plan: the
    // input executes exactly once (the write), and the validated rows
    // are by construction the rows that would commit — a
    // non-deterministic input (rand(), a re-executed micro-batch)
    // can't pass validation yet write different rows. A violation
    // removes the segments before throwing: nothing lands.
    TxLogChecks.validateWritten(data.sparkSession, dir, segs, checks)
    if (partitionCols.isEmpty) {
      TxLog.writeSegmentStats(data.sparkSession, dir, base, statsCols)
      TxLog.writeSegmentBlooms(data.sparkSession, dir, base, bloomCols)
    }
    val dynamic =
      overwrite && partitionCols.nonEmpty && dynamicOverwrite
    if (dynamic && segs == Seq(base) &&
        TxLog.segmentParts(dir, base).forall(_.isEmpty)) {
      // dynamic overwrite with an EMPTY batch replaces nothing — and
      // committing the plain fallback segment would poison the fully-
      // partitioned invariant later overwrites rely on: remove the
      // staged empty segment and no-op
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir, base))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "_txlog", s"stats-$base.json"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "_txlog", s"bloom-$base.json"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "_txlog", s"parts-$base.json"))
      return
    }
    val live =
      if (!overwrite) Seq.empty[String]
      else TxLog.latestVersion(dir)
        .map(v => TxLog.liveSegments(dir, v)).getOrElse(Seq.empty)
    val removes =
      if (!dynamic) live // static overwrite = logical truncate
      else {
        // DYNAMIC partition overwrite: retire ONLY the live data
        // segments whose recorded partition values the batch wrote —
        // untouched partitions survive byte-identical (same inodes),
        // and the whole replacement is one atomic commit. Every live
        // data segment must be attributable to a partition: an
        // unpartitioned segment could hold replaced-partition rows
        // the overwrite would otherwise silently duplicate.
        val written = segs.flatMap(s => TxLog.segmentParts(dir, s))
          .map(_.map(p => (p._1, p._2)).toSet).distinct
        val dataLive =
          live.filterNot(_.startsWith(s"${TxLog.DeletesFamily}__"))
        val unattributed =
          dataLive.filter(s => TxLog.segmentParts(dir, s).isEmpty)
        require(unattributed.isEmpty,
          s"dynamic partition overwrite on $dir: live segments " +
            s"$unattributed carry no partition metadata — the table " +
            "must be fully partitioned; run OPTIMIZE … REPARTITION BY " +
            "(TxLog.repartitionTable) to migrate them in place, or " +
            "rewrite with option(partitionBy=…)")
        dataLive.filter(s => written.contains(
          TxLog.segmentParts(dir, s).get.map(p => (p._1, p._2)).toSet))
      }
    TxLog.commit(dir, adds = segs, removes = removes)
    ()
  }
}

/** Write-time CHECK constraints — Delta's table constraints reduced to
  * this format's option surface: `OPTIONS (checks 'price > 0; id IS
  * NOT NULL')`, semicolon-separated boolean SQL expressions, enforced
  * on EVERY row-producing write path (DataFrame writer, SQL INSERT,
  * UPDATE/MERGE replacement rows, the streaming sink) BEFORE any
  * segment COMMITS — validation runs against the WRITTEN parquet
  * segment (the input plan executes exactly once, for the write;
  * the validated rows are by construction the rows that would
  * commit), and a violation removes the staged segment before
  * throwing, so a violating batch commits nothing — not even an
  * orphan dir. SQL CHECK semantics: a row violates iff the
  * expression evaluates to FALSE; NULL passes (the SQL standard's
  * rule). Cost: one delta-sized parquet read-back, never the table. */
private[graft] object TxLogChecks {
  def parse(parameters: Map[String, String]): Seq[String] =
    parameters.get("checks")
      .map(_.split(";").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Validate freshly-WRITTEN (not yet committed) segments; on a
    * violation, delete the staged segment dirs and any sidecars a
    * retried writer may have left, then rethrow — the commit never
    * happens and no orphan survives the failure. */
  def validateWritten(spark: org.apache.spark.sql.SparkSession,
      dir: String, segs: Seq[String], checks: Seq[String]): Unit = {
    if (checks.isEmpty || segs.isEmpty) return
    try validate(spark.read.parquet(segs.map(s => s"$dir/$s"): _*),
      checks, dir)
    catch {
      case e: Throwable =>
        segs.foreach { s =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(); ()
          }
          rm(new java.io.File(dir, s))
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
            dir, "_txlog", s"stats-$s.json"))
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
            dir, "_txlog", s"bloom-$s.json"))
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
            dir, "_txlog", s"parts-$s.json"))
        }
        throw e
    }
  }

  def validate(data: DataFrame, checks: Seq[String], table: String): Unit = {
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, struct,
      to_json}
    val flags = checks.zipWithIndex.map { case (c, i) =>
      coalesce(expr(c), lit(true)).as(s"__check_$i") }
    val rowJson = to_json(struct(data.columns.map(col).toSeq: _*))
    val bad = data
      .select(flags :+ rowJson.as("__row"): _*)
      .filter(checks.indices.map(i => !col(s"__check_$i")).reduce(_ || _))
      .limit(1).collect()
    if (bad.nonEmpty) {
      val r = bad.head
      val failed = checks.indices.filterNot(r.getBoolean).map(checks)
      throw new IllegalArgumentException(
        s"CHECK constraint violated on $table: " +
          failed.mkString("(", ") AND (", ")") +
          s" — e.g. row ${r.getString(checks.size)}; nothing was committed")
    }
  }
}

/** Segment-level data skipping: decide from a segment's recorded
  * min/max whether a pushed filter COULD match any of its rows.
  * Conservative by construction — an absent column, unreadable
  * sidecar, unparseable literal, or untranslated filter keeps the
  * segment. */
private[txlog] object StatsPrune {
  /** Everything recorded about one segment that a prune may consult:
    * per-column ranges (band disjointness), the row/null tallies
    * (IsNull/IsNotNull), and the bloom filters (point lookups — at
    * 100 TB "fetch one id" should open one segment, not every segment
    * whose [min,max] straddles the probe). Each piece is optional and
    * its absence only disables that prune. */
  case class SegMeta(
      ranges: Map[String, (String, String, String)],
      nulls: Option[(Long, Map[String, Long])],
      blooms: Map[String, org.apache.spark.util.sketch.BloomFilter])

  // string bounds compare in unsigned UTF-8 byte order — the
  // UTF8String order Spark's min/max computed them under; UTF-16
  // code-unit order (String.compareTo) diverges for supplementary-
  // plane characters and would wrongly prune matching segments
  private def cmpVals(typ: String, a: String, b: Any): Option[Int] =
    TxLog.statsCmp(typ, a, b.toString)

  /** A bloom's "definitely absent" is the only pruning answer; any
    * type we did not index (or a null probe) keeps the segment.
    * Integral values probe as longs — [[TxLog.writeSegmentBlooms]]
    * builds integral columns cast to long, so the hashes line up. */
  private def bloomMayContain(m: SegMeta, a: String, v: Any): Boolean =
    m.blooms.get(a).forall { bf =>
      v match {
        case l: java.lang.Long => bf.mightContainLong(l)
        case i: java.lang.Integer => bf.mightContainLong(i.longValue())
        case sh: java.lang.Short => bf.mightContainLong(sh.longValue())
        case s: String => bf.mightContainString(s)
        case _ => true
      }
    }

  /** Whether a pushed filter tree contains any shape that could
    * consult a bloom (point probes only) — the lazy-decode gate: a
    * filter set without one never opens a bloom sidecar. */
  def hasPointProbe(f: Filter): Boolean = f match {
    case _: EqualTo | _: In => true
    case EqualNullSafe(_, v) => v != null
    case And(l, r) => hasPointProbe(l) || hasPointProbe(r)
    case Or(l, r) => hasPointProbe(l) || hasPointProbe(r)
    case _ => false
  }

  def mayMatch(f: Filter, m: SegMeta): Boolean = {
    def test(a: String)(
        p: (String, String, String) => Option[Boolean]): Boolean =
      m.ranges.get(a).flatMap { case (mn, mx, t) => p(mn, mx, t) }
        .getOrElse(true)
    f match {
      case EqualTo(a, v) => test(a) { (mn, mx, t) =>
        for (lo <- cmpVals(t, mn, v); hi <- cmpVals(t, mx, v))
          yield lo <= 0 && hi >= 0 } && bloomMayContain(m, a, v)
      case EqualNullSafe(a, null) => mayMatch(IsNull(a), m)
      case EqualNullSafe(a, v) => mayMatch(EqualTo(a, v), m)
      case GreaterThan(a, v) =>
        test(a)((_, mx, t) => cmpVals(t, mx, v).map(_ > 0))
      case GreaterThanOrEqual(a, v) =>
        test(a)((_, mx, t) => cmpVals(t, mx, v).map(_ >= 0))
      case LessThan(a, v) =>
        test(a)((mn, _, t) => cmpVals(t, mn, v).map(_ < 0))
      case LessThanOrEqual(a, v) =>
        test(a)((mn, _, t) => cmpVals(t, mn, v).map(_ <= 0))
      // null tallies (upper bounds after a carry-forward merge — both
      // rules stay sound, see TxLog.segmentNullStats): a segment with
      // zero nulls in the column cannot serve IS NULL; one that is
      // all-null cannot serve IS NOT NULL
      case IsNull(a) =>
        m.nulls.forall { case (_, nl) => nl.get(a).forall(_ > 0) }
      case IsNotNull(a) =>
        m.nulls.forall { case (rows, nl) => nl.get(a).forall(_ < rows) }
      case In(a, vs) => vs.exists(v => mayMatch(EqualTo(a, v), m))
      case And(l, r) => mayMatch(l, m) && mayMatch(r, m)
      case Or(l, r) => mayMatch(l, m) || mayMatch(r, m)
      case _ => true
    }
  }
}

/** Process-wide memo of DECODED bloom sidecars, keyed by segment path
  * and validated by the sidecar file's (mtime, size) — decoding is the
  * expensive half of point-skipping (base64 + sketch deserialization
  * of potentially-MiB filters), while the stats/null sidecars are tiny
  * JSON reads. A committed segment's sidecar never changes (blooms are
  * written before the commit, only ever for new names), so the stat
  * check only exists to survive test-harness rebuilds of a store at
  * the same path. LRU-bounded: at the default maintain cadence a
  * table's live segment count stays far below the cap. */
private[txlog] object BloomCache {
  private val MaxEntries = 512
  private case class Entry(mtime: Long, size: Long,
      blooms: Map[String, org.apache.spark.util.sketch.BloomFilter])
  private val cache = new java.util.LinkedHashMap[String, Entry](
      64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Entry]): Boolean =
      size() > MaxEntries
  }

  def get(dir: String,
      seg: String): Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    val f = new java.io.File(new java.io.File(dir, "_txlog"),
      s"bloom-$seg.json")
    val (mtime, size) =
      if (f.isFile) (f.lastModified(), f.length()) else (-1L, -1L)
    cache.synchronized {
      val k = s"$dir/$seg"
      Option(cache.get(k)).filter(e => e.mtime == mtime && e.size == size)
        .getOrElse {
          val m =
            if (mtime < 0)
              Map.empty[String, org.apache.spark.util.sketch.BloomFilter]
            else TxLog.segmentBlooms(dir, seg).getOrElse(Map.empty)
          val e = Entry(mtime, size, m)
          cache.put(k, e)
          e
        }.blooms
    }
  }
}

/** `spark.readStream.format("graft-txlog").load(dir)` — the txlog
  * table as a Structured Streaming SOURCE whose offsets ARE the
  * table's committed versions: each micro-batch is exactly one
  * manifest span read through [[TxLog.changes]], so a batch scans
  * ONLY the segments its span's commits added (O(delta) at any table
  * size), the checkpoint stores plain version numbers, and restart
  * resumes from the last folded version — the streaming read half of
  * [[TxLog.appendBatch]]'s write half, end to end exactly-once when
  * the sink is idempotent. Append-only by contract, inherited from
  * `changes`: a compaction or row-level delete inside an unread span
  * fails the stream loudly instead of double-counting (re-snapshot
  * and restart the feed past it).
  *
  * `option("cdf", "true")` switches the stream to the CHANGE-DATA-FEED
  * shape ([[TxLog.changesCdf]] — Delta's `readChangeFeed` streaming
  * surface): each micro-batch emits the span's changes as full rows
  * tagged (_change_type ∈ insert|delete, _commit_version), so the
  * stream continues THROUGH row-level deletes (folding the feed
  * version-ordered reproduces snapshotMoR); compaction inside a span
  * still fails loudly in both modes — a history rewrite is not
  * expressible as change rows. */
object TxLogSource {
  /** Parse a byte-count option: a plain long, or with a k/m/g suffix
    * (binary units — Delta's byte-string shape reduced to its core). */
  private[graft] def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult) =
      if (t.endsWith("k")) (t.dropRight(1), 1024L)
      else if (t.endsWith("m")) (t.dropRight(1), 1024L * 1024)
      else if (t.endsWith("g")) (t.dropRight(1), 1024L * 1024 * 1024)
      else (t, 1L)
    val n = scala.util.Try(num.trim.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"maxBytesPerTrigger: cannot parse '$s' as a byte count — use a " +
          "whole number with an optional k/m/g suffix (e.g. 512m; " +
          "fractional sizes like '1.5g' are not supported)"))
    val v = n * mult
    require(v >= 1, s"maxBytesPerTrigger must be >= 1 byte, got $s")
    v
  }
}

class TxLogSource(sqlContext: SQLContext, dir: String,
    override val schema: StructType, cdf: Boolean = false,
    maxVersionsPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{
    Offset => V2Offset, ReadLimit, ReadMaxFiles}
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  require(maxVersionsPerTrigger.forall(_ >= 1),
    s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")

  override def getOffset: Option[V1Offset] =
    TxLog.latestVersion(dir).map(v => LongOffset(v.toLong))

  // ---- admission control: rate limiting + real Trigger.AvailableNow.
  // maxVersionsPerTrigger caps each micro-batch at N manifest spans
  // (Delta's maxFilesPerTrigger shape — bounds per-batch work however
  // far behind the consumer fell), and maxBytesPerTrigger caps it by
  // the versions' recorded ON-DISK segment bytes (Delta's
  // maxBytesPerTrigger — versions vary wildly in size, so a count cap
  // alone cannot bound batch memory; the byte cap is a SOFT maximum:
  // at least one version always admits, else a single oversized
  // commit would stall the stream forever — Delta's rule). Both are
  // surfaced through the engine's ReadLimit so AvailableNow DRAINS
  // the table in capped batches instead of falling back to one
  // unbounded batch. AvailableNow pins its target version at prepare
  // time: commits landing mid-drain wait for the next run (the
  // engine's contract).

  private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = TxLog.latestVersion(dir)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(
        if (maxBytesPerTrigger.isDefined)
          // a non-allAvailable limit so the engine keeps handing the
          // limit back per batch; the byte walk below does the capping
          ReadLimit.maxFiles(Int.MaxValue)
        else ReadLimit.allAvailable())

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val startV = Option(start).map(o => o.json.trim.toInt).getOrElse(-1)
    val ceiling = availableNowTarget
      .orElse(TxLog.latestVersion(dir)).getOrElse(-1)
    val countCapped = limit match {
      case mf: ReadMaxFiles => math.min(ceiling.toLong,
        startV.toLong + math.max(1, mf.maxFiles())).toInt
      case _ => ceiling
    }
    val capped = maxBytesPerTrigger match {
      case None => countCapped
      case Some(maxBytes) =>
        // admit whole versions until the byte budget is spent; the
        // FIRST version always admits (an oversized commit must pass,
        // not stall), and version sizes are memoized per commit
        var v = startV
        var bytes = 0L
        var done = false
        while (!done && v < countCapped) {
          val next = TxLog.versionAddedBytes(dir, v + 1)
          if (v > startV && bytes + next > maxBytes) done = true
          else { v += 1; bytes += next }
        }
        v
    }
    if (capped <= startV) null else LongOffset(capped.toLong)
  }

  // a restarted query replays the checkpointed JSON as SerializedOffset;
  // LongOffset.json is the bare number either way
  private def version(o: V1Offset): Int = o.json.trim.toInt

  override def getBatch(start: Option[V1Offset], end: V1Offset)
      : org.apache.spark.sql.DataFrame = {
    val fromV = start.map(version).getOrElse(-1)
    // a span holding ONLY maintenance commits (dataChange=false —
    // an OPTIMIZE landed between micro-batches) carries no delta: the
    // stream emits an empty batch and the offset still advances, so
    // compaction and streaming reads coexist on one table
    val span =
      if (TxLog.dataChangeVersions(dir, fromV, version(end)).isEmpty)
        sqlContext.sparkSession.createDataFrame(
          sqlContext.sparkContext.emptyRDD[Row], schema)
      else if (cdf) TxLog.changesCdf(sqlContext.sparkSession, dir, fromV,
        version(end))
      else TxLog.changes(sqlContext.sparkSession, dir, fromV, version(end))
    val batch = span.select(schema.fieldNames.map(col).toSeq: _*)
    org.apache.spark.sql.graft.Bridge.asStreaming(batch)
  }

  override def stop(): Unit = ()
}

/** The streaming SINK half of the format: one micro-batch = one
  * segment = one commit, exactly-once by the [[TxLog.appendBatch]]
  * ledger (redelivered batch ids are recognized against the full
  * manifest history and skipped). The engine hands `addBatch` a batch
  * frame over the micro-batch's executed rows; appendBatch runs
  * exactly ONE action on it (the segment write — stats are computed
  * from the written parquet, never by re-executing the input), so no
  * extra materialization is needed. */
class TxLogSink(dir: String, statsCols: Seq[String],
    checks: Seq[String] = Seq.empty, bloomCols: Seq[String] = Seq.empty,
    partitionCols: Seq[String] = Seq.empty)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the engine tags the frame isStreaming=true, which refuses every
    // batch write verb — re-wrap its executed rows as a batch frame
    // (ForeachBatchSink's own discipline, via the Bridge). CHECKs are
    // validated inside appendBatch against the WRITTEN segment, so
    // the batch plan still executes exactly once.
    val batch = org.apache.spark.sql.graft.Bridge.asBatch(data)
    TxLog.appendBatch(batch, batchId, dir, statsCols, bloomCols, checks,
      partitionCols)
    ()
  }
  override def toString: String = s"TxLogSink[$dir]"
}

/** The snapshot (or merge-on-read snapshot) of one txlog table at one
  * version, as a V1 relation with column pruning + filter pushdown
  * delegated to the inner parquet scan. */
case class TxLogRelation(sqlContext: SQLContext, dir: String,
    pinnedAsOf: Option[Int], keyCols: Option[Seq[String]],
    mergeSchema: Boolean = false, statsCols: Seq[String] = Seq.empty,
    checks: Seq[String] = Seq.empty, bloomCols: Seq[String] = Seq.empty,
    partitionCols: Seq[String] = Seq.empty,
    dynamicOpt: Option[Boolean] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** The version a use of this relation reads: the pinned one (time
    * travel — frozen forever), else the LATEST at each call. Lazy
    * resolution is what keeps catalog-cached relations fresh: Spark
    * caches a data-source table's resolved relation by name, so a
    * version pinned at resolution time would make `INSERT INTO t`
    * followed by `SELECT … FROM t` silently read the pre-insert
    * snapshot until a manual REFRESH TABLE (Delta re-resolves its
    * snapshot per query for exactly this reason). */
  private def asOf: Int = pinnedAsOf.getOrElse(
    TxLog.latestVersion(dir).getOrElse(
      sys.error(s"txlog table $dir has no commits")))

  /** SQL `INSERT INTO` (overwrite=false) / `INSERT OVERWRITE`
    * (overwrite=true) against a `USING graft.sources.txlog` catalog
    * table — the V1 InsertableRelation contract, routed to the same
    * single-segment-single-commit verb as the DataFrame writer.
    * Spark resolves the insert by position against [[schema]], so the
    * arriving frame is already aligned. The table's `statsCols` option
    * (carried on the relation from its creation parameters) applies
    * here too, so SQL-written segments stay skippable. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    TxLogWriter.write(data, dir, overwrite, statsCols, checks, bloomCols,
      partitionCols,
      // table option wins; else the session conf AT WRITE TIME (the
      // same knob Spark's own partitioned sources honor)
      dynamicOpt.getOrElse(sqlContext.sparkSession.conf
        .get("spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic")))

  private def snapshotDf: DataFrame = snapshotPruned(_ => true, asOf)

  private def snapshotPruned(keepSeg: String => Boolean,
      at: Int): DataFrame = {
    // ALTER TABLE ADD/DROP COLUMN metadata: widened columns force the
    // evolution-tolerant read (post-ALTER writes carry the column
    // physically, pre-ALTER segments don't), and any column no live
    // segment materializes yet is attached as a typed NULL; DROPPED
    // columns force it too (post-drop writes LACK the column old
    // segments still store) and are projected away at the end — the
    // O(1)-metadata drop's read half
    val widened = TxLog.widenedColumns(dir)
    val dropped = TxLog.droppedColumns(dir)
    // RENAMED columns force the evolution-tolerant read too: pre- and
    // post-rename segments expose the same LOGICAL name after the
    // per-segment mapping, but a rename composed with evolution
    // (pre-widen segments) still needs union-by-name
    val ms = mergeSchema || widened.nonEmpty || dropped.nonEmpty ||
      TxLog.renamedColumns(dir).nonEmpty
    val base0 = keyCols match {
      case Some(keys) =>
        TxLog.snapshotMoR(sqlContext.sparkSession, dir, at, keys, ms,
          keepSeg)
      case None =>
        TxLog.snapshot(sqlContext.sparkSession, dir, at, ms, keepSeg)
    }
    val base = dropped.foldLeft(base0)((df, n) => df.drop(n))
    widened.foldLeft(base) { case (df, (n, ddl)) =>
      val dt = org.apache.spark.sql.types.DataType.fromDDL(ddl)
      df.schema.fields.find(_.name.equalsIgnoreCase(n)) match {
        case Some(f) =>
          // the DDL records the column's declared type forever — a
          // segment that wrote it differently is a type change
          // pretending to be evolution, refused loudly
          require(f.dataType == dt,
            s"txlog table $dir: column '$n' was added as $ddl but a " +
              s"segment wrote it as ${f.dataType.sql} — a column-TYPE " +
              "change is not schema evolution; rewrite the table")
          df
        case None =>
          df.withColumn(n, org.apache.spark.sql.functions.lit(null).cast(dt))
      }
    }
  }

  /** The live data segments a scan with these pushed filters must
    * open: segments whose recorded min/max prove the filters can't
    * match are SKIPPED before any parquet footer is touched — the
    * data-skipping read half of the writer's `statsCols` option.
    * Package-visible so plan audits can assert the pruned set. */
  private[graft] def keptSegments(filters: Array[Filter]): Seq[String] =
    keptSegments(filters, asOf)

  private[graft] def keptSegments(filters: Array[Filter],
      at: Int): Seq[String] = {
    // blooms are decoded LAZILY: only a point probe (EqualTo / In /
    // EqualNullSafe) can consult one, so a range-only or null-only
    // scan never touches a bloom sidecar — and decoded sidecars are
    // memoized ([[BloomCache]]), so repeat probes pay zero decodes
    val pointProbed = filters.exists(StatsPrune.hasPointProbe)
    // sidecars record a segment's PHYSICAL column names; pushed
    // filters name LOGICAL ones — re-key each older segment's maps
    // through the rename mapping, which both keeps a renamed column
    // prunable on pre-rename segments AND stops a re-added old name
    // from consulting the stale physical entry (whose stats describe
    // a DIFFERENT logical column: an IS NULL probe against it would
    // wrongly prune matching rows)
    val renames = TxLog.renamedColumns(dir).filter(_._3 <= at)
    TxLog.liveSegmentsWithVersion(dir, at)
      .filterNot(_._1.startsWith(s"${TxLog.DeletesFamily}__"))
      .filter { case (seg, segV) =>
        def remap[V](m: Map[String, V]): Map[String, V] =
          TxLog.remapSidecarKeys(m, renames, segV, at)
        val meta = StatsPrune.SegMeta(
          remap(TxLog.segmentStats(dir, seg).getOrElse(Map.empty)),
          TxLog.segmentNullStats(dir, seg)
            .map { case (rows, nulls) => (rows, remap(nulls)) },
          if (pointProbed) remap(BloomCache.get(dir, seg)) else Map.empty)
        filters.forall(StatsPrune.mayMatch(_, meta))
      }
      .map(_._1)
  }

  override def schema: StructType = snapshotDf.schema

  // V1 contract: filters returned here are re-evaluated by Spark
  // above the scan; handling them all inside the inner DataFrame
  // (where they push into the parquet reader) and declaring none
  // unhandled keeps the work single-sided.
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filterNot(translate(_).isDefined)

  private def translate(f: Filter): Option[org.apache.spark.sql.Column] =
    f match {
      case EqualTo(a, v) => Some(col(a) === v)
      case GreaterThan(a, v) => Some(col(a) > v)
      case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
      case LessThan(a, v) => Some(col(a) < v)
      case LessThanOrEqual(a, v) => Some(col(a) <= v)
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case And(l, r) =>
        for (lc <- translate(l); rc <- translate(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- translate(l); rc <- translate(r)) yield lc || rc
      case Not(c) => translate(c).map(!_)
      case _ => None
    }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = scanDf(requiredColumns, filters).rdd

  /** The scan's DataFrame, pre-`.rdd` — the unit plan audits inspect:
    * stats-pruned segment set, pushed filters, pruned columns. */
  private[graft] def scanDf(requiredColumns: Array[String],
      filters: Array[Filter]): DataFrame = {
    // ONE version per scan: an unpinned relation re-resolves latest
    // per QUERY, but the prune and the read within a query must see
    // the same snapshot — resolving asOf twice would let a commit
    // landing between them drop segments the prune never saw
    // (silently missing rows under a concurrent writer)
    val v = asOf
    val kept = keptSegments(filters, v).toSet
    val base =
      if (kept.isEmpty)
        // every segment provably filter-disjoint: an empty relation
        // (snapshot() would refuse an empty segment list)
        sqlContext.sparkSession.createDataFrame(
          sqlContext.sparkContext.emptyRDD[Row], schema)
      else snapshotPruned(kept, v)
    val filtered = filters.flatMap(translate)
      .foldLeft(base)((df, c) => df.filter(c))
    // always select exactly the required columns — V1 consumes rows
    // positionally against requiredColumns, including the zero-column
    // COUNT(*) shape
    filtered.select(requiredColumns.map(col).toSeq: _*)
  }
}
