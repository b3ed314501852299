package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Minimal bridge into Spark's package-private Column ⇄ Expression
  * converters (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * graft's native expressions get Column-API entry points. Same
  * pattern as public Spark-extension libraries (e.g. Qbeast's
  * DatasetFactory); no Spark internals are modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame — input for building
    * custom logical nodes (graft.plans.AsOfJoinNode) whose children
    * are existing frames. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** Wrap a custom logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — the entry point every Spark extension library
    * needs to surface a custom operator through the public API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Run `f` with the context's checkpoint dir temporarily swapped —
    * `SparkContext.setCheckpointDir` has no public inverse, and tests
    * of checkpoint-mode-sensitive operators (graft.operators.Components)
    * must not leak a reliable-checkpoint setting into the shared
    * session. `checkpointDir` is `private[spark]`, reachable from this
    * package. The dir must already exist (setCheckpointDir's mkdirs is
    * bypassed). */
  def withCheckpointDir[T](sc: org.apache.spark.SparkContext,
      dir: Option[String])(f: => T): T = {
    val prev = sc.checkpointDir
    sc.checkpointDir = dir
    try f finally sc.checkpointDir = prev
  }

  /** The materialization action of [[truncate]]: one job that counts
    * the rows and, for `sumIdx >= 0`, sums that LONG column exactly.
    * Long-chunked BigInteger accumulation: exact at any row count
    * (10^9 rows × 10^18-sized ids overflow a plain long sum),
    * independent of partition order. */
  private def materializeWithSum(
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      sumIdx: Int): (java.math.BigInteger, Long) =
    rdd.mapPartitions { it =>
      var big = java.math.BigInteger.ZERO
      var acc = 0L
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        n += 1
        if (sumIdx >= 0 && !r.isNullAt(sumIdx)) {
          val v = r.getLong(sumIdx)
          if ((v > 0 && acc > Long.MaxValue - v) ||
              (v < 0 && acc < Long.MinValue - v)) {
            big = big.add(java.math.BigInteger.valueOf(acc)); acc = v
          } else acc += v
        }
      }
      Iterator.single((big.add(java.math.BigInteger.valueOf(acc)), n))
    }.fold((java.math.BigInteger.ZERO, 0L)) { case ((s1, n1), (s2, n2)) =>
      (s1.add(s2), n1 + n2)
    }

  /** The result of [[truncate]]: the snapshot frame, the exact sum of
    * the requested LONG column (zero when none was asked for), the row
    * count, and the handle that frees the snapshot. */
  final case class Truncated(df: DataFrame, sum: java.math.BigInteger,
      rows: Long, release: () => Unit)

  /** Lineage truncation for iterative loops, with an explicit release
    * handle and one fused scalar pass.
    *
    * Dispatch is on the context's checkpoint dir: reliable files when
    * one is set (survives executor loss — cluster deployment), local
    * blocks otherwise (local/test). Neither `Dataset.localCheckpoint`
    * nor `Dataset.checkpoint` lets the caller free its snapshot:
    * superseded local blocks pile up until a GC-driven ContextCleaner
    * pass, and reliable files are never reaped unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is on (default
    * false) — an N-round loop would keep N full copies of its state.
    * `release` frees the blocks or deletes the files deterministically;
    * call it only once every consumer has moved to a newer frame (the
    * snapshot cannot be recomputed). In reliable mode the RDD is cached
    * across the materialization so the checkpoint write reads the
    * cache instead of recomputing the lineage (RDD.checkpoint's
    * documented pitfall); the cache is dropped once the file exists.
    *
    * The materialization job also counts the rows and, when `sumCol`
    * is given, sums that column exactly — a convergence scalar or a
    * broadcast gate comes out of the same job instead of a second
    * action. The sum reads the raw 8-byte slot (InternalRow.getLong),
    * so a non-LONG column would be misread silently: it is refused. */
  def truncate(df: DataFrame, sumCol: Option[String] = None): Truncated = {
    val sumIdx = sumCol.fold(-1) { c =>
      val i = df.schema.fieldIndex(c)
      require(df.schema(i).dataType == LongType,
        s"truncate needs a LONG sum column, `$c` is ${df.schema(i).dataType}")
      i
    }
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val sc = ds.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    // unsafe rows are reused by the scan — copy before persisting,
    // exactly as Dataset.checkpoint does
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    if (reliable) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    val (sum, rows) = materializeWithSum(rdd, sumIdx) // writes the checkpoint
    val out = ds.sparkSession.internalCreateDataFrame(rdd, ds.schema)
    val release: () => Unit =
      if (reliable) {
        rdd.unpersist(blocking = false) // reads now hit the file
        () => rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(sc.hadoopConfiguration).delete(path, true)
        }
      } else () => { rdd.unpersist(blocking = false); () }
    Truncated(out, sum, rows, release)
  }

  /** Lineage truncation for BOUNDED frames (cardinality ∝ groups /
    * groups×buckets, never row count) that stay referenced by the
    * RETURNED lazy plan — so no release handle is possible and the
    * snapshot must survive until the consumer's action. Same dispatch
    * as [[truncate]]: a reliable checkpoint when the context has a
    * checkpoint dir (`Dataset.checkpoint`'s files are reaped by
    * ContextCleaner only under
    * `spark.cleaner.referenceTracking.cleanCheckpoints`, which a
    * deployment setting a dir should enable), executor-local blocks
    * otherwise. Unlike [[truncate]] it goes through the Dataset API,
    * which keeps the frame's output partitioning on the snapshot (a
    * banded self-join over it plans no re-shuffle). */
  def truncateBounded(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Every persistent RDD in the context that is LOCALLY CHECKPOINTED
    * — the executor-pinned snapshots that local-mode lineage truncation
    * ([[truncateBounded]], [[truncate]]) leaves behind when
    * the call site cannot own a release (the snapshot feeds a lazy
    * plan returned to the caller). A session-long driver (Bench,
    * Verify) sweeps these BETWEEN entries: once an entry's action has
    * run, its snapshots are dead weight — unreleased, they accumulate
    * into GC/eviction churn that taxes every later entry (measured:
    * r17's one-directional late-alphabet slowdown). Callers must NOT
    * sweep ids created by builds that outlive an entry (DfCache pins
    * etc.) — hence the exclude set, snapshot before the entry. */
  def locallyCheckpointedIds(sc: org.apache.spark.SparkContext)
      : Set[Int] =
    sc.getPersistentRDDs.collect {
      // RDD.isLocallyCheckpointed is private[rdd]; its implementation
      // — checkpointData is a LocalRDDCheckpointData — is reachable
      // from this package (both are private[spark])
      case (id, rdd) if rdd.checkpointData.exists(
          _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]) =>
        id
    }.toSet

  /** Unpersist (non-blocking) the given persistent RDD ids if still
    * registered. */
  def unpersistIds(sc: org.apache.spark.SparkContext,
      ids: Set[Int]): Unit = {
    val live = sc.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Drain the context's async listener bus — a test asserting on
    * SparkListener counters must flush pending events first;
    * `listenerBus` is `private[spark]`, reachable from this package. */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
      timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The inverse of [[asStreaming]]: re-wrap a V1 `Sink.addBatch`
    * frame (tagged isStreaming=true, so every batch write verb
    * refuses it) as a plain BATCH frame over the micro-batch's
    * executed rows — exactly what ForeachBatchSink does internally
    * before handing the frame to user code. One downstream action
    * executes the rows once; no copy is taken here. */
  def asBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** Tag a batch DataFrame as STREAMING — the V1 `Source.getBatch`
    * contract: MicroBatchExecution rejects a returned frame whose
    * plan is not streaming, and the blessed way to satisfy it is an
    * `isStreaming = true` LogicalRDD over the batch plan's executed
    * rows (FileStreamSource does exactly this internally). The
    * physical plan freezes at call time, which is right for a
    * micro-batch: the span's segment set is already pinned. */
  def asStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }
}
