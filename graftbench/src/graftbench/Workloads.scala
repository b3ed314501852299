package graftbench

import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.pipelines.EtlPipeline
import graft.sources.Sinks

/** What an op sees while it runs: the session and the phase recorder.
  * A phase sets the `graftbench.phase` local property (and a job group
  * for sink calls) so the traced run can attribute Spark jobs to it. */
final class Ctx(val spark: SparkSession, t0Ns: Long) {
  private val sc = spark.sparkContext
  var op: Int = -1
  /** Phase spans and counters of the current op; set only while tracing. */
  var spans: Option[scala.collection.mutable.ArrayBuffer[Span]] = None
  var counters: Option[Counters] = None

  def phase[T](name: String, jobGroup: Boolean = false)(body: => T): T = {
    sc.setLocalProperty(Trace.PhaseKey, name)
    if (jobGroup) sc.setJobGroup(name, name, interruptOnCancel = false)
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      spans.foreach(_ += Span(op, name, "op", s - t0Ns, e - t0Ns))
      sc.setLocalProperty(Trace.PhaseKey, null)
      if (jobGroup) sc.clearJobGroup()
    }
  }
}

trait Op {
  def name: String
  def run(c: Ctx): Unit
}

trait Workload {
  def ops: Seq[Op]
  /** Typical seconds of one warm pass, which sets the pass count. */
  def nominalPassS: Double
  /** Whether passes run in a seeded random order. */
  def shuffled: Boolean = true
  /** Input generation, excluded from set-up time. */
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed clean-up after each pass. */
  def endPass(): Unit = ()
  /** The workload's prerequisites, part of set-up time. Returns the
    * seconds spent in `DedupQueries.warmShared` (0 if not called). */
  def setup(spark: SparkSession): Double = 0.0
  /** Untimed output check after a pass: the names of ops whose output
    * was wrong, with a reason. */
  def verify(spark: SparkSession, pass: Int, last: Boolean): Seq[(String, String)]
  /** Rows in the JDBC table an op wrote or read (traced run only). */
  def jdbcRows(op: String): Long = 0L
  def close(): Unit = ()
}

/** A catalog entry: `QueryDef.build`, then the noop-write action, which
  * materializes every output column. */
final class CatalogOp(q: graft.QueryDef, dir: String) extends Op {
  def name: String = q.name
  def run(c: Ctx): Unit = {
    val df = c.phase("build")(q.build(c.spark, dir))
    // Dataset analysis is eager, so it ran inside build; the action's
    // own query execution re-analyzes nothing
    c.counters.foreach(_.add("plans.analyze_s",
      df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)))
    c.phase("action")(df.write.format("noop").mode("overwrite").save())
  }
  def output(spark: SparkSession): DataFrame = q.build(spark, dir)
}

/** Row count plus an order-independent hash of the rendered rows (and
  * of the schema). Computed by its own Spark job, never inside a timed
  * region. */
object Digest {
  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = named.columns.map(c => coalesce(col(c).cast(StringType), lit("\u0000")))
    val h = xxhash64(concat_ws("\u0001", cells: _*))
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    val schema = df.schema.fields.map(f => f.dataType.simpleString).mkString(",")
    f"rows=${r.getLong(0)};h=${r.getLong(1)}%x.${r.getLong(2)}%x;schema=${schema.hashCode}%08x"
  }
}

/** analytics and pipeline: catalog entries, each checked against its
  * stored digest after the last warm pass. */
final class CatalogWorkload(names: Seq[String], dir: String, expected: Map[String, String],
    warmShared: Boolean, val nominalPassS: Double) extends Workload {
  private val byName = graft.Catalog.all.map(q => q.name -> q).toMap
  val catalogOps: Seq[CatalogOp] = names.map(n => new CatalogOp(byName(n), dir))
  def ops: Seq[Op] = catalogOps

  override def setup(spark: SparkSession): Double = {
    names.foreach(n => require(expected.contains(n), s"no expected digest for $n"))
    if (!warmShared) 0.0
    else {
      val t = System.nanoTime()
      graft.queries.DedupQueries.warmShared(spark, dir)
      (System.nanoTime() - t) / 1e9
    }
  }

  def verify(spark: SparkSession, pass: Int, last: Boolean): Seq[(String, String)] =
    if (!last) Nil
    else catalogOps.flatMap { op =>
      val got = try Digest.of(op.output(spark)) catch { case e: Throwable => s"error: ${e.getMessage}" }
      if (got == expected(op.name)) None else Some(op.name -> s"digest $got != ${expected(op.name)}")
    }
}

object CatalogWorkload {
  /** Relational reporting entries: scans, joins, aggregates, windows.
    * Read-only; no eager builds, no Bridge truncation, no JDBC. */
  val Analytics: Seq[String] = Seq(
    "q05_star_join", "q07_window_rank", "q09_distinct_agg", "q12_anti_join",
    "q15_date_agg", "q21_topk_per_group", "q44_latest_per_key")

  /** Curation entries over documents and embeddings: consumers of the
    * shared dedup builds (iterative components with Bridge truncation,
    * built in set-up), an eager-build multi-job chain with a truncated
    * frame (d03), hash and vector kernels, and shuffles. Their generated
    * classes outnumber Spark's 100-class codegen cache, so warm passes
    * keep compiling, as the full curation set does. Apart from d03 the
    * ops take similar time, and their count is odd, so the pooled median
    * and tail fall inside one dense band of samples rather than on a gap
    * between two ops. */
  val Pipeline: Seq[String] = Seq(
    "d01_exact_dedup", "d03_simhash", "d09_best_of_cluster", "d17_top_templates",
    "d18_dedup_funnel", "p16_quota_sample", "s01_cosine_topk")
}

/** The reference's database-build flow through `graft.pipelines` and
  * `graft.sources` into an in-memory Derby database. */
final class EtlWorkload(seed: Long, scratch: String, dbName: String) extends Workload {
  private val url = s"jdbc:derby:memory:$dbName"
  private var input: Etl.Input = _
  private val jsonPath = s"$scratch/etl/records.jsonl"
  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("ts", LongType),
    StructField("team", StringType), StructField("shard", IntegerType),
    StructField("score", DoubleType)))
  private var batchDfs: Seq[DataFrame] = Nil
  /** The pass's ingested records, read once by `etl_ingest` and cached
    * for the writes that follow it. */
  private var raw: Option[DataFrame] = None
  private lazy val wantClean = Etl.clean(input.records)
  private lazy val wantAgg = Etl.aggregate(wantClean)
  private lazy val wantFinal = Etl.upserted(wantClean, input.batches)

  override def shuffled: Boolean = false
  val nominalPassS = 3.0

  override def prepare(spark: SparkSession): Unit = {
    input = Etl.generate(seed)
    val f = new java.io.File(jsonPath)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, input.records.map(Etl.json).asJava)
    batchDfs = input.batches.map { b =>
      spark.createDataFrame(b.map(r => Row(r.name, r.ts, r.team, r.shard, r.score)).asJava, schema)
    }
  }

  override def setup(spark: SparkSession): Double = {
    DriverManager.getConnection(url + ";create=true").close()
    0.0
  }

  private def clean: DataFrame = EtlPipeline.normalize(raw.get, "name", "ts")

  private def op(n: String)(body: Ctx => Unit): Op = new Op {
    def name: String = n
    def run(c: Ctx): Unit = body(c)
  }

  // Each sinks.* phase holds the call and the Spark jobs that run it:
  // ingestJson and readJdbc are lazy, so their phase includes the action
  // that scans the source.
  val ops: Seq[Op] = Seq(
    op("etl_ingest") { c =>
      raw = Some(c.phase("sinks.read_json", jobGroup = true) {
        val df = EtlPipeline.ingestJson(c.spark, jsonPath, schema).persist(StorageLevel.MEMORY_ONLY)
        df.write.format("noop").mode("overwrite").save()
        df
      })
    },
    op("etl_write_clean") { c =>
      c.phase("sinks.write_jdbc", jobGroup = true)(Sinks.writeJdbc(clean, url, "clean"))
    },
    op("etl_write_agg") { c =>
      val agg = EtlPipeline.aggregate(clean, "team", "score")
      c.phase("sinks.write_jdbc", jobGroup = true)(Sinks.writeJdbc(agg, url, "agg"))
    }) ++ (0 until Etl.Batches).map { b =>
    op(s"etl_upsert_$b") { c =>
      c.phase("sinks.upsert_jdbc", jobGroup = true)(
        Sinks.upsertJdbc(c.spark, batchDfs(b), url, "clean", Seq("name"), "ts", partCol = Some("shard")))
    }
  } ++ Seq("clean", "agg").map { t =>
    op(s"etl_read_$t") { c =>
      c.phase("sinks.read_jdbc", jobGroup = true)(
        Sinks.readJdbc(c.spark, url, t).write.format("noop").mode("overwrite").save())
    }
  }

  private def count(table: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  override def jdbcRows(op: String): Long = op match {
    case "etl_ingest" => 0L
    case "etl_write_agg" | "etl_read_agg" => count("agg")
    case _ => count("clean")
  }

  def verify(spark: SparkSession, pass: Int, last: Boolean): Seq[(String, String)] = {
    val errs = try {
      val rows = Sinks.readJdbc(spark, url, "clean").select("name", "ts", "team", "shard", "score")
        .collect().toSeq.map(r => Etl.Rec(r.getString(0), r.getLong(1), r.getString(2), r.getInt(3), r.getDouble(4)))
      val agg = Sinks.readJdbc(spark, url, "agg").select("team", "n_records", "total", "mean")
        .collect().map(r => r.getString(0) -> Etl.Agg(r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      Etl.check(wantFinal, rows, wantAgg, agg)
    } catch { case e: Throwable => Seq(s"error: ${e.getMessage}") }
    if (errs.isEmpty) Nil else Seq("etl_read_clean" -> errs.mkString("; "))
  }

  override def endPass(): Unit = {
    raw.foreach(_.unpersist(blocking = true))
    raw = None
  }

  override def close(): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: java.sql.SQLException => () } // a dropped database reports itself as an exception
}
