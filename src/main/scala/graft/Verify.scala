package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names]
    // The optional filter is dev-loop tooling (spot-check a changed
    // query without a full dump); the driver always passes two args.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = SparkEntry.session()
    new java.io.File(outDir).mkdirs()
    // Same session hygiene as Bench: build the shared d-family frames
    // first (their internal truncated rounds must survive the whole
    // run), then sweep each entry's own locally-checkpointed snapshots
    // after its dump — unreleased they accumulate across ~300 entries
    // into GC churn (and, at larger SFs, OOM risk) for the later ones.
    val bridge = org.apache.spark.sql.graft.Bridge
    try graft.queries.DedupQueries.warmShared(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] shared warm-up failed: ${e.getMessage}")
    }
    val keepIds = bridge.locallyCheckpointedIds(spark.sparkContext)
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      bridge.unpersistIds(spark.sparkContext,
        bridge.locallyCheckpointedIds(spark.sparkContext) -- keepIds)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A FULL run touched every live fixture, so anything left under the
    // fixture root is a stale generation (old testdata fingerprints) —
    // sweep it. Filtered dev runs touch a subset and must not sweep.
    if (only.isEmpty) {
      val swept = graft.sources.IngestFixtures.gcStale()
      if (swept.nonEmpty)
        System.err.println(
          s"[verify] swept ${swept.size} stale fixture dirs: " +
            swept.sorted.take(20).mkString(", "))
    }
    spark.stop()
  }
}
