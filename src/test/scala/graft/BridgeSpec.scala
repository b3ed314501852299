package graft

import java.math.BigInteger
import org.apache.spark.sql.graft.Bridge

/** The lineage-truncation primitive [[Bridge.truncate]] in both of its
  * dispatch modes: local blocks (no checkpoint dir on the context) and
  * reliable files (a checkpoint dir set through
  * [[Bridge.withCheckpointDir]], which keeps the setting out of the
  * shared session). */
class BridgeSpec extends SparkSpec {
  import spark.implicits._

  /** Run `f` with no checkpoint dir (local) or a fresh one (reliable). */
  private def inMode[T](reliable: Boolean)(f: Option[String] => T): T = {
    val dir =
      if (reliable)
        Some(java.nio.file.Files.createTempDirectory("graft_bridge_ck").toString)
      else None
    Bridge.withCheckpointDir(spark.sparkContext, dir)(f(dir))
  }

  /** The RDD checkpoint directories (`rdd-<id>`) under a checkpoint dir. */
  private def rddDirs(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("rdd-")).toSet

  for ((mode, reliable) <- Seq("local" -> false, "reliable" -> true)) {

    test(s"$mode: the fused sum is exact past Long.MaxValue and rows equals count()") {
      inMode(reliable) { _ =>
        // one partition, so the in-partition overflow chunking is what
        // keeps the sum exact; the null counts as a row, not a value
        Seq(Seq(Long.MaxValue, Long.MaxValue, Long.MaxValue),
            Seq(Long.MinValue, Long.MinValue, Long.MinValue)).foreach { vs =>
          val df = (vs.map(Option(_)) :+ None).toDF("v").coalesce(1)
          val t = Bridge.truncate(df, Some("v"))
          try {
            assert(t.sum === BigInteger.valueOf(vs.head)
              .multiply(BigInteger.valueOf(3)))
            assert(t.rows === 4L)
            assert(t.rows === t.df.count())
            assert(t.df.collect().map(r => Option(r.getAs[java.lang.Long](0)))
              .toSeq.sortBy(_.isEmpty) === vs.map(Some(_)) :+ None)
          } finally t.release()
        }
      }
    }

    test(s"$mode: without a sum column the sum is zero and rows still counts") {
      inMode(reliable) { _ =>
        val t = Bridge.truncate(spark.range(0, 10).toDF("id").repartition(3))
        try {
          assert(t.sum === BigInteger.ZERO)
          assert(t.rows === 10L)
          assert(t.rows === t.df.count())
        } finally t.release()
      }
    }

    test(s"$mode: release frees the snapshot") {
      val sc = spark.sparkContext
      inMode(reliable) { dir =>
        val t = Bridge.truncate(spark.range(0, 100).toDF("id"), Some("id"))
        assert(t.sum === BigInteger.valueOf(4950L))
        val id = t.df.queryExecution.logical.collectFirst {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
        }.get
        dir match {
          case None =>
            assert(Bridge.locallyCheckpointedIds(sc).contains(id),
              "local mode pins the snapshot in executor blocks")
            t.release()
            assert(!sc.getPersistentRDDs.contains(id),
              "release must unpersist the local snapshot")
          case Some(d) =>
            assert(!sc.getPersistentRDDs.contains(id),
              "reliable mode drops its cache once the file is written")
            assert(rddDirs(d) === Set(s"rdd-$id"))
            t.release()
            assert(rddDirs(d).isEmpty,
              "release must delete the checkpoint directory")
        }
      }
    }

    test(s"$mode: a non-LONG sum column is rejected, naming the column") {
      inMode(reliable) { _ =>
        val df = Seq((1, 2L)).toDF("n_int", "n_long")
        val e = intercept[IllegalArgumentException](
          Bridge.truncate(df, Some("n_int")))
        assert(e.getMessage.contains("n_int"))
      }
    }
  }
}
