package graft.sources

import org.apache.spark.sql.DataFrame

/** Once-per-JVM materialization of semi-structured copies of a parquet
  * table, so catalog entries can exercise the CSV/JSON ingest path
  * ([[Sinks.readCsv]]/[[Sinks.readJson]]) against the driver's DuckDB
  * oracle (which reads the original parquet): identical data, two
  * encodings. The fixture is an artifact of the single-box test
  * harness — a real deployment reads its own landing-zone files.
  */
object IngestFixtures {

  private val done = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Root of every on-disk fixture this harness materializes. */
  val Root = "/tmp/graft_ingest_v2"

  /** Every fixture directory TOUCHED by this JVM, for [[gcStale]]:
    * fingerprinted keys mean a regenerated source dataset strands the
    * previous generation's directories forever (stores, landing zones,
    * checkpoints), so the full Verify run sweeps what it didn't touch.
    */
  private val tracked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The canonical fixture path for `key`, registered as touched.
    * Every fixture path — the helpers below AND the per-entry
    * store/landing/checkpoint dirs built inside `once` bodies — must
    * come from here, or a full-run GC would sweep it. */
  def path(key: String): String = {
    val p = s"$Root/$key"
    tracked.add(p)
    p
  }

  /** Delete fixture directories this JVM never touched — called ONLY
    * at the end of a FULL Verify run (a filtered dev run touches a
    * subset and must not sweep the rest; the run owns the GC window —
    * the harness runs one driver process at a time). Bounded by
    * construction: after a sweep, the root holds exactly the current
    * generation. Returns the deleted names. */
  def gcStale(): Seq[String] = gcStale(Root, tracked)

  /** [[gcStale]] against an explicit root and live-set — the testable
    * core (the spec must not sweep the real root out from under the
    * suites sharing this JVM). */
  private[graft] def gcStale(root: String,
      live: java.util.Set[String]): Seq[String] = {
    val rootF = new java.io.File(root)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    Option(rootF.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => !live.contains(f.getAbsolutePath))
      .map { f => rm(f); f.getName }
  }

  /** Content fingerprint of a parquet dataset: every part file's
    * relative name, size, and mtime folded into one hex token. Keying
    * the fixture path on this (not the directory path) means a
    * regenerated dataset at the same path can never be served a stale
    * on-disk fixture — the fingerprint changes, so the path changes.
    */
  def fingerprint(sourcePath: String): String = {
    val root = new java.io.File(sourcePath)
    // fail at the boundary: a typo'd path would otherwise hash as
    // "name|0|0" and surface later as a baffling downstream read error
    require(root.exists(), s"fingerprint: no such path $sourcePath")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        // listFiles is null on IO/permission errors, not just missing
        Option(f.listFiles()).getOrElse(
          sys.error(s"fingerprint: cannot list $f"))
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    walk(root).foreach { f =>
      md.update(s"${f.getName}|${f.length}|${f.lastModified}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Remove a catalog table's orphaned warehouse directory before a
    * (re)create: the in-memory catalog forgets tables between JVMs but
    * `spark-warehouse/<table>` persists on disk, and both saveAsTable
    * and SQL CREATE TABLE refuse the leftover location. Call after
    * DROP TABLE IF EXISTS, before the write (e07/e38/CBO-spec sites).
    */
  def clearWarehouseDir(sp: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val loc = new java.io.File(
      new java.net.URI(sp.conf.get("spark.sql.warehouse.dir")).getPath,
      table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    if (loc.exists()) rm(loc)
  }

  /** Write `df` as `format` under a deterministic path derived from
    * `key` (which must embed a content [[fingerprint]] of the source),
    * at most once per JVM. An on-disk `_SUCCESS`-marked copy is only
    * trusted because the fingerprint makes the path content-addressed:
    * stale content implies a different path. Multiple part files on
    * purpose: the read side must handle a directory, not a single
    * file. */
  def materialize(key: String, format: String, df: => DataFrame): String = {
    val path = this.path(key)
    done.computeIfAbsent(path, _ => {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        df.coalesce(4).write.mode("overwrite").format(format)
          .option("header", "true").save(path)
      }
      path
    })
  }

  /** A two-micro-batch streaming landing directory: `first` and
    * `second` each become ONE parquet file with fixed, strictly
    * increasing mtimes, so a FileStreamSource with
    * `maxFilesPerTrigger=1` replays them as two ordered batches —
    * batch boundaries (and therefore watermark advances) are part of
    * streaming semantics, and a single-batch replay would never fire
    * event-time timeouts for the tail. */
  def materializeLanding(key: String, first: => DataFrame,
      second: => DataFrame): String = {
    val path = this.path(key)
    done.computeIfAbsent(path, _ => {
      val dirF = new java.io.File(path)
      if (!new java.io.File(dirF, "batch2.parquet").exists()) {
        dirF.mkdirs()
        addLandingFile(path, first, "batch1.parquet", 1700000000000L)
        addLandingFile(path, second, "batch2.parquet", 1700000100000L)
      }
      path
    })
  }

  /** Land `df` as ONE parquet file `dir/name` with a fixed mtime —
    * the building block for STAGED landing directories (write a file,
    * run an incremental pass, write the next file, run again), where
    * [[materializeLanding]]'s all-at-once shape doesn't fit. Written
    * to a temp dir then moved, so a concurrent directory listing
    * never sees a partial file. */
  def addLandingFile(dir: String, df: DataFrame, name: String,
      mtime: Long): Unit = {
    val dirF = new java.io.File(dir)
    dirF.mkdirs()
    val tmp = new java.io.File(dirF, s"__tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    val dst = new java.io.File(dirF, name)
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.setLastModified(mtime)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
  }

  /** Run `body` at most once per JVM for `key` — for fixtures whose
    * lifetime is the process itself (e.g. an in-memory JDBC database
    * that cannot outlive the JVM, so no on-disk staleness to probe). */
  def once(key: String)(body: => Unit): Unit =
    done.computeIfAbsent(s"once:$key", _ => { body; key })

  /** Build a [[TxLog]] table once per content key: each element of
    * `commits` is (segments-to-add, segment-names-to-remove); every
    * added segment is written as its own parquet directory, then the
    * manifest commits. The on-disk copy is trusted iff the LAST
    * version's manifest exists — manifests land via ATOMIC_MOVE, so a
    * present final manifest implies every prior commit completed. */
  def materializeTxLog(key: String,
      commits: Seq[(Seq[(String, DataFrame)], Seq[String])]): String = {
    val path = this.path(key)
    done.computeIfAbsent(path, _ => {
      val lastManifest = new java.io.File(
        new java.io.File(path, "_txlog"), s"v${commits.size - 1}.json")
      if (!lastManifest.exists()) {
        commits.foreach { case (adds, removes) =>
          adds.foreach { case (name, df) =>
            df.write.mode("overwrite").parquet(s"$path/$name")
          }
          TxLog.commit(path, adds.map(_._1), removes)
        }
      }
      path
    })
  }

  /** A directory holding ONE hand-written `bad.csv` of deliberately
    * malformed rows (plus the header line, which the `header=true`
    * reader skips per file). Written atomically via rename so a
    * concurrent reader never sees a half-written file. The path folds
    * in a hash of the CONTENT (header + rows), preserving the fixture
    * content-addressing invariant: editing the malformed rows yields a
    * new directory instead of silently serving the stale file /tmp
    * kept from an earlier JVM run. */
  def badCsvDir(key: String, header: String, rows: Seq[String]): String = {
    val contentHash = java.lang.Long.toHexString(
      (header +: rows).mkString("\n").hashCode.toLong & 0xffffffffL)
    val path = this.path(s"${key}_$contentHash")
    done.computeIfAbsent(path, _ => {
      val dst = new java.io.File(path, "bad.csv")
      if (!dst.exists()) {
        new java.io.File(path).mkdirs()
        val tmp = java.io.File.createTempFile("bad", ".csv",
          new java.io.File(path))
        java.nio.file.Files.write(tmp.toPath,
          (header +: rows).mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      path
    })
  }

  /** Like [[materialize]] but through
    * [[ClusteredWriter.writeRangeClustered]] — each file covers a
    * narrow key range so parquet min/max stats prune whole files. */
  def materializeClustered(key: String, df: => DataFrame, nFiles: Int,
      clusterCols: Seq[String]): String = {
    val path = this.path(key)
    done.computeIfAbsent(path, _ => {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        ClusteredWriter.writeRangeClustered(df, path, nFiles, clusterCols)
      }
      path
    })
  }

  /** Like [[materialize]] but through [[ClusteredWriter.writeZOrdered]]
    * — Morton-interleaved multi-column clustering, so band filters on
    * EITHER clustered column prune files/row-groups. */
  def materializeZOrdered(key: String, df: => DataFrame, nFiles: Int,
      zCols: Seq[String]): String = {
    val path = this.path(key)
    done.computeIfAbsent(path, _ => {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        ClusteredWriter.writeZOrdered(df, path, nFiles, zCols)
      }
      path
    })
  }

  /** A schema-evolution landing zone: each named batch written as a
    * `batch=<name>` partition directory with ITS OWN schema (older
    * batches typically lack newer columns). The read side must
    * `mergeSchema` — a root `_SUCCESS` marks the whole set complete. */
  def materializeEvolved(key: String,
      batches: Seq[(String, () => DataFrame)]): String = {
    val path = this.path(key)
    done.computeIfAbsent(path, _ => {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        batches.foreach { case (name, df) =>
          df().coalesce(2).write.mode("overwrite")
            .parquet(s"$path/batch=$name")
        }
        new java.io.File(path, "_SUCCESS").createNewFile()
      }
      path
    })
  }

  /** Like [[materialize]] but through [[Sinks.writePartitionedParquet]]
    * — a Hive-style `col=value` directory layout, so the read side can
    * prove partition pruning against the oracle. */
  def materializePartitioned(key: String, df: => DataFrame,
      partitionCols: Seq[String]): String = {
    val path = this.path(key)
    done.computeIfAbsent(path, _ => {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        Sinks.writePartitionedParquet(df, path, partitionCols)
      }
      path
    })
  }

  /** Partitioned dataset whose affected partitions are subsequently
    * REPLACED via dynamic partition overwrite: the full load lands
    * first, then `replacement` overwrites exactly the partitions its
    * rows touch (`partitionOverwriteMode=dynamic`) — untouched
    * partitions must survive byte-identical, which is the whole point
    * of the mode (static overwrite would truncate the table). A marker
    * file makes the two-step build idempotent across JVMs; the mode is
    * a per-write option, so the session conf is never touched. */
  def materializeOverwritten(key: String, full: => DataFrame,
      replacement: => DataFrame, partitionCols: Seq[String]): String = {
    val path = this.path(key)
    done.computeIfAbsent(path, _ => {
      if (!new java.io.File(path, "_OVERWRITE_DONE").exists()) {
        Sinks.writePartitionedParquet(full, path, partitionCols)
        replacement.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCols: _*).parquet(path)
        new java.io.File(path, "_OVERWRITE_DONE").createNewFile()
      }
      path
    })
  }
}
