package graftbench

import scala.util.Random

/** Seeded synthetic "scraped" records for the etl workload, and the
  * plain-Scala model of what the database must hold after a pass.
  *
  * A record is one version of one key. Raw keys carry case and space
  * noise (`EtlPipeline.normalize` trims and lower-cases them), several
  * versions per key with distinct `ts`, about 2% null keys, and teams
  * drawn from a skewed (Zipf) distribution. `team` and `shard` are
  * functions of the normalized key, so `shard` is a stable partition
  * column for `Sinks.upsertJdbc`. The seed moves the key range, how the
  * versions spread over the keys and the team skew; the record and key
  * counts are fixed, so every seed asks for the same amount of work.
  */
object Etl {
  final case class Rec(name: String, ts: Long, team: String, shard: Int, score: Double)
  final case class Agg(n: Long, total: Double, mean: Double)
  final case class Input(records: Vector[Rec], batches: Vector[Vector[Rec]])

  val Records = 40000
  val Keys = 16000
  val Batches = 4
  val BatchRows = 1500
  val Teams = 12
  val Shards = 16

  private def key(i: Int): String = f"user_$i%07d"
  private def shardOf(k: String): Int = Math.floorMod(k.hashCode, Shards)
  private def teamOf(k: String, skew: Double): String = {
    // Zipf(skew) over Teams, drawn from the key's own hash
    val weights = (1 to Teams).map(r => 1.0 / math.pow(r, skew))
    val x = (Math.floorMod(k.hashCode * 31 + 7, 1000003) / 1000003.0) * weights.sum
    val t = weights.scanLeft(0.0)(_ + _).tail.indexWhere(_ > x)
    f"team_${if (t < 0) Teams - 1 else t}%02d"
  }
  private def score(r: Random): Double = r.nextInt(100000) / 100.0

  private def noisy(k: String, r: Random): String = {
    val cased = r.nextInt(3) match {
      case 0 => k
      case 1 => k.toUpperCase
      case _ => k.capitalize
    }
    (" " * r.nextInt(3)) + cased + (" " * r.nextInt(3))
  }

  def generate(seed: Long): Input = {
    val r = new Random(seed)
    val keyBase = r.nextInt(1000000)
    val skew = 0.8 + 0.6 * r.nextDouble()
    // every key gets one version; the rest go to keys drawn with a
    // seeded bias towards a hot few, capped at 12 versions per key
    val hot = 1.0 + 2.0 * r.nextDouble()
    val versions = Array.fill(Keys)(1)
    var extra = Records - Keys
    while (extra > 0) {
      val k = (Keys * math.pow(r.nextDouble(), hot)).toInt
      if (versions(k) < 12) { versions(k) += 1; extra -= 1 }
    }
    val recs = Vector.newBuilder[Rec]
    for (i <- 0 until Keys) {
      val k = key(keyBase + i)
      val team = teamOf(k, skew)
      for (v <- 1 to versions(i)) {
        val name = if (r.nextDouble() < 0.02) null else noisy(k, r)
        recs += Rec(name, 1000L * v + r.nextInt(1000), team, shardOf(k), score(r))
      }
    }
    val records = r.shuffle(recs.result())
    // upsert batches: existing keys (new versions) plus fresh keys, a
    // few keys twice in one batch (the later version must win)
    val batches = (0 until Batches).map { b =>
      Vector.tabulate(BatchRows) { j =>
        val k = key(keyBase + (if (r.nextDouble() < 0.8) r.nextInt(Keys) else Keys + r.nextInt(Keys)))
        Rec(k, 100000L * (b + 1) + j, teamOf(k, skew), shardOf(k), score(r))
      }
    }.toVector
    Input(records, batches)
  }

  def json(rec: Rec): String = {
    val name = if (rec.name == null) "null" else "\"" + rec.name + "\""
    s"""{"name": $name, "ts": ${rec.ts}, "team": "${rec.team}", "shard": ${rec.shard}, "score": ${rec.score}}"""
  }

  /** `EtlPipeline.normalize`: drop null keys, trim + lower-case, keep
    * each key's latest version. */
  def clean(records: Seq[Rec]): Map[String, Rec] =
    records.filter(_.name != null)
      .map(x => x.copy(name = x.name.trim.toLowerCase))
      .groupBy(_.name).map { case (k, vs) => k -> vs.maxBy(_.ts) }

  /** `EtlPipeline.aggregate(clean, "team", "score")`. */
  def aggregate(clean: Map[String, Rec]): Map[String, Agg] =
    clean.values.groupBy(_.team).map { case (t, vs) =>
      val total = vs.iterator.map(_.score).sum
      t -> Agg(vs.size.toLong, total, total / vs.size)
    }

  /** The table after `Sinks.upsertJdbc` of each batch in turn: a batch
    * row replaces the stored row; inside a batch the higher `ts` wins. */
  def upserted(clean: Map[String, Rec], batches: Seq[Seq[Rec]]): Map[String, Rec] =
    batches.foldLeft(clean) { (table, batch) =>
      table ++ batch.groupBy(_.name).map { case (k, vs) => k -> vs.maxBy(_.ts) }
    }

  /** Relative tolerance for the floating-point sums Spark and the model
    * add in different orders. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Mismatches between read-back tables and the model, as messages. */
  def check(wantRows: Map[String, Rec], gotRows: Seq[Rec],
      wantAgg: Map[String, Agg], gotAgg: Map[String, Agg]): Seq[String] = {
    val rowErrs =
      if (gotRows.size != wantRows.size) Seq(s"clean rows ${gotRows.size} != ${wantRows.size}")
      else gotRows.filterNot(g => wantRows.get(g.name).contains(g)).take(3).map(g => s"clean row $g")
    val aggErrs =
      if (gotAgg.keySet != wantAgg.keySet) Seq(s"agg teams ${gotAgg.keySet.size} != ${wantAgg.keySet.size}")
      else wantAgg.toSeq.flatMap { case (t, w) =>
        val g = gotAgg(t)
        if (g.n == w.n && close(g.total, w.total) && close(g.mean, w.mean)) None
        else Some(s"agg $t $g != $w")
      }
    rowErrs ++ aggErrs
  }
}
