package graft

import org.apache.spark.sql.Row

/** Edge cases of two dimension-sized curation reports, run through
  * their catalog entries over a small `documents.parquet` written to a
  * temp dir: p16's largest-remainder tie-break and d18's raw stage. */
class QuotaFunnelSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_qf").toString
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'web' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String): Seq[Row] =
    Catalog.byName(name).build(spark, dir).collect().toSeq

  test("p16 gives a tied remainder's extra seat to the smaller lang") {
    // 100/3 leaves one seat over and all three remainders tie at 1
    val dir = docsDir(Seq((1L, "one doc", "c"), (2L, "two doc", "a"),
      (3L, "three doc", "b")))
    assert(run("p16_quota_sample", dir) ===
      Seq(Row("a", 1L, 34L), Row("b", 1L, 33L), Row("c", 1L, 33L)))
  }

  test("d18's raw stage counts exact duplicates and null-text rows") {
    val dir = docsDir(Seq(
      (1L, "the quick brown fox jumps", "en"),
      (2L, "the quick brown fox jumps", "de"),
      (3L, null, "en"),
      (4L, null, "de"),
      (5L, "a completely different document here", "de"),
      (6L, "yet another unrelated text body", "fr")))
    // exact: {1,2}, {3,4} (the null-text group), {5}, {6}; near: 1 and
    // 2 share a component, the null-text docs have no shingles and stay
    // singletons
    assert(run("d18_dedup_funnel", dir) === Seq(
      Row("1_raw", 6L, 1.0),
      Row("2_after_exact", 4L, 4.0 / 6.0),
      Row("3_after_near_dup", 5L, 5.0 / 6.0)))
  }
}
