package graft

import graft.sources.IngestFixtures
import org.apache.spark.sql.functions.{concat, lit}

/** Fixture-root hygiene: [[IngestFixtures.path]] registers every
  * fixture directory this JVM touches, and [[IngestFixtures.gcStale]]
  * sweeps the rest — so stale generations (old testdata fingerprints'
  * stores, landing zones, checkpoints) stop accumulating under the
  * fixture root across rounds. Tested against a scratch root: the
  * real root is live state shared with the other suites in this JVM.
  */
class IngestFixturesSpec extends SparkSpec {

  test("gcStale sweeps untracked dirs and keeps tracked ones") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_fixture_gc").toString
    def mk(name: String): java.io.File = {
      val d = new java.io.File(root, name)
      d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "part").toPath,
        "x".getBytes)
      d
    }
    val keep = mk("s99_store_deadbeef")
    val stale1 = mk("s99_store_oldfingerprint")
    val stale2 = mk("e99_ckpt_oldfingerprint")
    val live = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    live.add(keep.getAbsolutePath)
    val swept = IngestFixtures.gcStale(root, live)
    assert(swept.toSet === Set(stale1.getName, stale2.getName))
    assert(keep.exists() && new java.io.File(keep, "part").exists())
    assert(!stale1.exists() && !stale2.exists())
    // idempotent: a second sweep finds nothing
    assert(IngestFixtures.gcStale(root, live).isEmpty)
  }

  test("path() registers under the fixture root") {
    val p = IngestFixtures.path("spec_probe_key")
    assert(p == s"${IngestFixtures.Root}/spec_probe_key")
  }

  test("materializeOverwritten (e22) keeps untouched partitions and " +
      "leaves the session conf alone") {
    val s = spark.newSession()
    import s.implicits._
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    def conf = (s.conf.get(confKey), s.conf.getAll.get(confKey))
    val before = conf
    val docs = (1L to 12L).map(i =>
      (i, s"text $i", Seq("en", "de", "fr")((i % 3).toInt))).toDF(
      "doc_id", "text", "lang")
    val replacement = docs.filter($"lang" === "en" && $"doc_id" % 2 === 0)
      .withColumn("text", concat($"text", lit(" v2")))
    val path = IngestFixtures.materializeOverwritten(
      s"spec_overwrite_${System.nanoTime()}", docs, replacement, Seq("lang"))
    try {
      assert(conf === before)
      val got = s.read.parquet(path).select("doc_id", "text", "lang")
      val want = docs.filter($"lang" =!= "en").unionByName(replacement)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      ()
    }
  }
}
