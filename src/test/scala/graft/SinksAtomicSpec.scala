package graft

import graft.sources.Sinks
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution,
  RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Failure semantics of the atomic JDBC upsert (the reference's
  * terminal hop): the live table must survive a crash anywhere before
  * the install transaction commits, and the key-scoped install must
  * never touch a row whose key is outside the batch. */
class SinksAtomicSpec extends SparkSpec {
  import spark.implicits._

  private def rows(url: String, table: String): Seq[(Long, String, Int)] =
    Sinks.readJdbc(spark, url, table).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq

  test("a stage write killed mid-flight leaves the old table byte-identical") {
    val url = "jdbc:derby:memory:graft_atomic1;create=true"
    val v1 = Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "name", "ver")
    Sinks.upsertJdbc(spark, v1, url, "t", Seq("id"), "ver", numPartitions = 1)
    val before = rows(url, "t")
    // the poison batch throws DURING the stage write — after the old
    // upsert's truncate-then-rewrite would already have destroyed the
    // table. raise_error evaluates per row on the executor, so the
    // failure is a mid-write task failure, not a plan-time error.
    val poison = Seq((2L, "b2", 2), (3L, "c", 1)).toDF("id", "name", "ver")
      .withColumn("name",
        when(col("id") === 3L, raise_error(lit("simulated crash")))
          .otherwise(col("name")))
    intercept[Exception] {
      Sinks.upsertJdbc(spark, poison, url, "t", Seq("id"), "ver",
        numPartitions = 1)
    }
    assert(rows(url, "t") === before,
      "old table must survive a crash during the stage write")
    // and the sink recovers on the next clean call (leftover stage
    // scratch from the crashed run is swept, not tripped over)
    val clean = Seq((2L, "b2", 2), (3L, "c", 1)).toDF("id", "name", "ver")
    Sinks.upsertJdbc(spark, clean, url, "t", Seq("id"), "ver",
      numPartitions = 1)
    assert(rows(url, "t") === Seq((1L, "a", 1), (2L, "b2", 2), (3L, "c", 1)))
  }

  test("delta install touches only the batch's partitions") {
    val url = "jdbc:derby:memory:graft_atomic2;create=true"
    val v1 = Seq((1L, "pa", 1), (2L, "pa", 1), (10L, "pb", 1), (11L, "pc", 1))
      .toDF("id", "part", "ver")
    Sinks.upsertJdbc(spark, v1, url, "t", Seq("id"), "ver",
      numPartitions = 1, partCol = Some("part"))
    // canary: a row in partition pb inserted OUTSIDE the upsert path.
    // A table-wide DELETE would remove it and the stage (which holds
    // only the batch's keys) would never reinsert it — so its survival
    // proves the DELETE is scoped to the batch's keys.
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        """INSERT INTO t ("id", "part", "ver") VALUES (99, 'pb', 7)""")
      finally st.close()
    } finally conn.close()
    val batch = Seq((2L, "pa", 2), (3L, "pa", 1)).toDF("id", "part", "ver")
    Sinks.upsertJdbc(spark, batch, url, "t", Seq("id"), "ver",
      numPartitions = 1, partCol = Some("part"))
    assert(rows(url, "t") === Seq(
      (1L, "pa", 1), (2L, "pa", 2), (3L, "pa", 1),
      (10L, "pb", 1), (11L, "pc", 1), (99L, "pb", 7)))
  }

  /** Every physical node of every query `body` executes (adaptive
    * plans included), captured by a listener. */
  private def executedNodes(body: => Unit): Seq[SparkPlan] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.sql.graft.Bridge.drainListenerBus(
        spark.sparkContext, 60000L)
      spark.listenerManager.unregister(listener)
    }
    val helper = new AdaptiveSparkPlanHelper {}
    plans.synchronized(plans.toList)
      .flatMap(qe => helper.collect(qe.executedPlan) { case p => p })
  }

  /** The JDBC scans of `table` among `nodes`. */
  private def jdbcScans(nodes: Seq[SparkPlan], table: String) =
    nodes.collect { case s: RowDataSourceScanExec
      if s.relation.toString.contains(s"JDBCRelation($table)") => s }

  test("the existing-side read is scoped to touched partitions") {
    // CDC needs stored versions: the read of the live table must carry
    // the pushed `partCol IN (touched)` filter and read only the key
    // and version columns, whatever else the table holds
    val url = "jdbc:derby:memory:graft_atomic3;create=true"
    val v1 = Seq((1L, "pa", "x", 1, "U"), (10L, "pb", "y", 1, "U"),
      (20L, "pc", "z", 1, "U")).toDF("id", "part", "payload", "ver", "op")
    Sinks.upsertJdbc(spark, v1, url, "t3", Seq("id"), "ver",
      numPartitions = 1, partCol = Some("part"), opCol = Some("op"))
    val batch = Seq((1L, "pa", "x2", 2, "U"), (11L, "pb", "w", 1, "U"))
      .toDF("id", "part", "payload", "ver", "op")
    val scans = jdbcScans(executedNodes {
      Sinks.upsertJdbc(spark, batch, url, "t3", Seq("id"), "ver",
        numPartitions = 1, partCol = Some("part"), opCol = Some("op"))
    }, "t3")
    assert(scans.nonEmpty, "the CDC call must read the stored versions")
    scans.foreach { s =>
      val cols = s.requiredSchema.fieldNames.toSeq
      val pushed = s.handledFilters.mkString(", ")
      assert(cols.sorted === Seq("id", "ver"),
        s"only key and version columns may be read: $cols")
      assert(pushed.contains("In(part") && pushed.contains("pa") &&
        pushed.contains("pb") && !pushed.contains("pc"),
        s"IN filter over the touched partitions must reach the JDBC scan: $pushed")
    }
    val back = Sinks.readJdbc(spark, url, "t3").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getInt(3))).toSeq
    assert(back === Seq((1L, "x2", 2), (10L, "y", 1), (11L, "w", 1), (20L, "z", 1)))
  }

  test("an upsert-mode call plans no scan of the target table") {
    // the batch always wins in upsert mode, so the live table is never
    // read: the install is O(batch) however large the table is
    val url = "jdbc:derby:memory:graft_atomic5;create=true"
    val v1 = Seq((1L, "pa", 1), (10L, "pb", 1)).toDF("id", "part", "ver")
    Sinks.upsertJdbc(spark, v1, url, "t5", Seq("id"), "ver",
      numPartitions = 1, partCol = Some("part"))
    val batch = Seq((1L, "pa", 2), (2L, "pa", 1)).toDF("id", "part", "ver")
    val nodes = executedNodes {
      Sinks.upsertJdbc(spark, batch, url, "t5", Seq("id"), "ver",
        numPartitions = 1, partCol = Some("part"))
    }
    // the stage write, which scans the batch, was captured
    assert(nodes.exists(_.isInstanceOf[LocalTableScanExec]),
      "the stage write's plan was not captured")
    assert(jdbcScans(nodes, "t5").isEmpty,
      s"upsert mode scanned the live table:\n${nodes.mkString("\n")}")
    assert(rows(url, "t5") === Seq((1L, "pa", 2), (2L, "pa", 1), (10L, "pb", 1)))
  }

  test("exactly-once: a recorded batchId is skipped, an unrecorded crash re-applies") {
    val url = "jdbc:derby:memory:graft_eo1;create=true"
    val b0 = Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "name", "ver")
    assert(Sinks.upsertBatchExactlyOnce(spark, b0, 0L, url, "t",
      Seq("id"), "ver", numPartitions = 1))
    val b1 = Seq((2L, "b2", 2)).toDF("id", "name", "ver")
    assert(Sinks.upsertBatchExactlyOnce(spark, b1, 1L, url, "t",
      Seq("id"), "ver", numPartitions = 1))
    val after = rows(url, "t")
    assert(after === Seq((1L, "a", 1), (2L, "b2", 2)))
    // redeliver batch 0 (crash-after-commit): skipped — the merge rule
    // is incoming-beats-existing, so an actual re-apply would regress
    // id=2 to ver 1 and this assertion would catch it
    assert(!Sinks.upsertBatchExactlyOnce(spark, b0, 0L, url, "t",
      Seq("id"), "ver", numPartitions = 1))
    assert(rows(url, "t") === after)
    // crash BEFORE the install commit: batch 2 dies mid-stage-write —
    // nothing recorded, so the redelivered clean batch 2 applies
    val poison = Seq((3L, "c", 1)).toDF("id", "name", "ver")
      .withColumn("name", raise_error(lit("boom")))
    intercept[Exception] {
      Sinks.upsertBatchExactlyOnce(spark, poison, 2L, url, "t",
        Seq("id"), "ver", numPartitions = 1)
    }
    assert(rows(url, "t") === after, "failed batch must not leak data")
    assert(Sinks.upsertBatchExactlyOnce(spark,
      Seq((3L, "c", 1)).toDF("id", "name", "ver"), 2L, url, "t",
      Seq("id"), "ver", numPartitions = 1),
      "unrecorded batch must re-apply after its crash")
    assert(rows(url, "t") === Seq((1L, "a", 1), (2L, "b2", 2), (3L, "c", 1)))
    // bookkeeping holds exactly the three committed batch ids
    val bk = Sinks.readJdbc(spark, url, "t__applied").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(bk === Seq(0L, 1L, 2L))
  }

  test("first load installs via rename: no live table until the commit") {
    val url = "jdbc:derby:memory:graft_atomic4;create=true"
    // poison first load: table must NOT exist afterwards (no partial
    // first load visible), then a clean load succeeds
    val poison = Seq((1L, "a", 1)).toDF("id", "name", "ver")
      .withColumn("name", raise_error(lit("boom")))
    intercept[Exception] {
      Sinks.upsertJdbc(spark, poison, url, "t4", Seq("id"), "ver",
        numPartitions = 1)
    }
    val clean = Seq((1L, "a", 1)).toDF("id", "name", "ver")
    Sinks.upsertJdbc(spark, clean, url, "t4", Seq("id"), "ver",
      numPartitions = 1)
    assert(rows(url, "t4") === Seq((1L, "a", 1)))
  }
}
