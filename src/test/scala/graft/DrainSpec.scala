package graft

import graft.queries.IngestQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryException

/** The bounded-replay helpers behind IngestQueries' streaming entries:
  * [[IngestQueries.drain]] scopes the 8-partition state cap to the
  * replay, and [[IngestQueries.drainToMemory]] keeps at most one live
  * memory sink per prefix. Each test runs in its own session so the
  * conf and temp views it reads are its own. */
class DrainSpec extends SparkSpec {

  private val key = "spark.sql.shuffle.partitions"

  /** A file stream over ids 0..9 in a fresh directory. */
  private def idStream(s: SparkSession): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_drain").toString
    s.range(10).toDF("id").write.mode("overwrite").parquet(dir)
    s.readStream.schema("id LONG").parquet(dir)
  }

  test("drain runs at 8 partitions and restores the conf, also on failure") {
    val s = spark.newSession()
    s.conf.set(key, "3")
    @volatile var seen = ""
    IngestQueries.drain(idStream(s))(_.foreachBatch {
      (b: DataFrame, _: Long) => seen = b.sparkSession.conf.get(key)
    })
    assert(seen === "8")
    assert(s.conf.get(key) === "3")
    val e = intercept[StreamingQueryException] {
      IngestQueries.drain(idStream(s))(_.foreachBatch {
        (_: DataFrame, _: Long) => throw new IllegalStateException("boom")
      })
    }
    assert(e.getMessage.contains("boom"))
    assert(s.conf.get(key) === "3")
  }

  test("drainToMemory with one prefix keeps only the latest sink view") {
    val s = spark.newSession()
    def views = s.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("spec_drain_"))
      .map(_.name).toSet
    val first = IngestQueries.drainToMemory(idStream(s), "spec_drain",
      "append")
    assert(first.count() === 10)
    val afterFirst = views
    assert(afterFirst.size === 1)
    val second = IngestQueries.drainToMemory(idStream(s), "spec_drain",
      "append")
    val afterSecond = views
    assert(afterSecond.size === 1)
    assert((afterFirst & afterSecond).isEmpty)
    assert(second.collect().map(_.getLong(0)).sorted.toSeq === (0L until 10L))
  }
}
