package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Tests of the benchmark's own logic: `python3 graftbench/run.py
  * --self-test`. Exits non-zero on the first failed check. */
object SelfTest {
  private var n = 0
  private def check(what: String)(cond: => Boolean): Unit = {
    n += 1
    if (!cond) { System.err.println(s"FAIL $what"); sys.exit(1) }
    println(s"ok   $what")
  }

  def main(args: Array[String]): Unit = {
    check("sum of per-op medians") {
      Stats.sumOfMedians(Map("a" -> Seq(3.0, 1.0, 2.0), "b" -> Seq(10.0, 30.0), "c" -> Seq(5.0))) ==
        2.0 + 20.0 + 5.0
    }
    check("pooled tail keeps ten samples beyond it") {
      val xs = (1 to 30).map(_.toDouble)
      val (p, v) = Stats.pooledTail(xs)
      p == 66 && v == 20.0 && xs.count(_ > v) == 10
    }
    check("pooled tail over 100 and 11 samples") {
      Stats.pooledTail((1 to 100).map(_.toDouble)) == (90, 90.0) &&
        Stats.pooledTail((1 to 11).map(_.toDouble)) == (9, 1.0)
    }
    check("pooled tail with too few samples is the maximum") {
      Stats.pooledTail(Seq(3.0, 1.0, 2.0)) == (100, 3.0)
    }
    check("fail_frac counts failed over attempted") {
      Stats.failFrac(0, 40) == 0.0 && Stats.failFrac(3, 12) == 0.25
    }
    check("etl generator: same seed, same inputs") {
      Etl.generate(7) == Etl.generate(7)
    }
    check("etl generator: another seed, other inputs") {
      val a = Etl.generate(7)
      val b = Etl.generate(8)
      a.records != b.records && a.batches != b.batches
    }
    check("etl generator: fixed size, noisy and null keys, stable shard per key") {
      val in = Etl.generate(3)
      val named = in.records.filter(_.name != null)
      in.records.size == Etl.Records &&
        in.records.exists(_.name == null) &&
        named.exists(r => r.name != r.name.trim.toLowerCase) &&
        named.groupBy(_.name.trim.toLowerCase).forall(_._2.map(_.shard).distinct.size == 1)
    }
    val ops = (1 to 10).map(i => new Op { def name = s"op$i"; def run(c: Ctx): Unit = () })
    check("op order: same seed and pass, same order") {
      Runner.order(5, 2, ops, shuffled = true).map(_.name) == Runner.order(5, 2, ops, shuffled = true).map(_.name)
    }
    check("op order: another seed or pass, another order") {
      val base = Runner.order(5, 2, ops, shuffled = true).map(_.name)
      base != Runner.order(6, 2, ops, shuffled = true).map(_.name) &&
        base != Runner.order(5, 3, ops, shuffled = true).map(_.name) &&
        base.sorted == ops.map(_.name).sorted
    }
    check("etl model on a tiny input") {
      val recs = Seq(
        Etl.Rec("  Alice ", 2, "red", 1, 10.0), Etl.Rec("alice", 1, "red", 1, 99.0),
        Etl.Rec("BOB", 1, "blue", 2, 5.0), Etl.Rec(null, 1, "red", 1, 1.0))
      val clean = Etl.clean(recs)
      val agg = Etl.aggregate(clean)
      val up = Etl.upserted(clean, Seq(Seq(Etl.Rec("bob", 7, "blue", 2, 6.0), Etl.Rec("bob", 9, "blue", 2, 8.0))))
      clean.keySet == Set("alice", "bob") && clean("alice").score == 10.0 &&
        agg == Map("red" -> Etl.Agg(1, 10.0, 10.0), "blue" -> Etl.Agg(1, 5.0, 5.0)) &&
        up("bob") == Etl.Rec("bob", 9, "blue", 2, 8.0) && up("alice") == clean("alice")
    }
    pipelineAgainstModel()
    println(s"$n checks passed")
  }

  /** The real EtlPipeline + Sinks on a tiny seeded input agree with the
    * model, and the check catches a wrong read-back. */
  private def pipelineAgainstModel(): Unit = {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val in = Etl.generate(11)
      val records = in.records.take(400)
      val batches = in.batches.map(_.take(50))
      val dir = java.nio.file.Files.createTempDirectory("graftbench-selftest").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/r.jsonl"),
        scala.jdk.CollectionConverters.SeqHasAsJava(records.map(Etl.json)).asJava)
      val schema = StructType(Seq(StructField("name", StringType), StructField("ts", LongType),
        StructField("team", StringType), StructField("shard", IntegerType), StructField("score", DoubleType)))
      val url = "jdbc:derby:memory:graftbench_selftest;create=true"
      import graft.pipelines.EtlPipeline
      import graft.sources.Sinks
      val clean = EtlPipeline.normalize(EtlPipeline.ingestJson(spark, s"$dir/r.jsonl", schema), "name", "ts")
      Sinks.writeJdbc(clean, url, "clean")
      Sinks.writeJdbc(EtlPipeline.aggregate(clean, "team", "score"), url, "agg")
      import spark.implicits._
      batches.foreach { b =>
        val df = b.map(r => (r.name, r.ts, r.team, r.shard, r.score)).toDF("name", "ts", "team", "shard", "score")
        Sinks.upsertJdbc(spark, df, url, "clean", Seq("name"), "ts", partCol = Some("shard"))
      }
      val rows = Sinks.readJdbc(spark, url, "clean").collect().toSeq
        .map(r => Etl.Rec(r.getString(0), r.getLong(1), r.getString(2), r.getInt(3), r.getDouble(4)))
      val agg = Sinks.readJdbc(spark, url, "agg").collect()
        .map(r => r.getString(0) -> Etl.Agg(r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val wantClean = Etl.clean(records)
      val want = Etl.upserted(wantClean, batches)
      val wantAgg = Etl.aggregate(wantClean)
      check("etl pipeline read-back matches the model on a tiny input") {
        Etl.check(want, rows, wantAgg, agg).isEmpty
      }
      check("etl check reports a wrong read-back") {
        val bad = rows.head.copy(score = rows.head.score + 1)
        Etl.check(want, bad +: rows.tail, wantAgg, agg).nonEmpty &&
          Etl.check(want, rows, wantAgg, agg.updated(agg.keys.head, Etl.Agg(0, 0, 0))).nonEmpty
      }
    } finally spark.stop()
  }
}
