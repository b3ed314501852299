package graft.sources

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

/** Sources and sinks beyond parquet (SURVEY.md §2 sources/sinks).
  *
  * The reference's pipeline ends in a SQLite database; the Spark
  * re-expression is `DataFrameWriter.jdbc` — the same call targets
  * SQLite, Postgres, or any warehouse JDBC endpoint. At cluster scale
  * `numPartitions` bounds the connection fan-in.
  */
object Sinks {

  /** Full-table JDBC write, installed ATOMICALLY: rows land in a
    * scratch stage table, then a rename (pair) inside one transaction
    * swaps it live — readers of `table` see the old state or the new
    * one, never a truncated in-between, and a crash mid-write leaves
    * the previous table untouched (scratch is swept on the next
    * call). */
  def writeJdbc(df: DataFrame, url: String, table: String,
      numPartitions: Int = 8, props: Properties = new Properties()): Unit = {
    val stage = table + "__stage"
    val old = table + "__old"
    dropIfExists(url, stage, props)
    dropIfExists(url, old, props)
    writeRaw(df, url, stage, numPartitions, props)
    inTransaction(url, props) { conn =>
      if (jdbcTableExists(url, table, props)) renameTable(conn, table, old)
      renameTable(conn, stage, table)
    }
    dropIfExists(url, old, props)
  }

  /** The unstaged write primitive (used for scratch/stage tables,
    * where atomicity is meaningless). `columnTypes` optionally
    * overrides created column DDL (`"c VARCHAR(1024)"` syntax). */
  private def writeRaw(df: DataFrame, url: String, table: String,
      numPartitions: Int, props: Properties,
      columnTypes: Option[String] = None): Unit = {
    val w = df.coalesce(numPartitions).write.mode(SaveMode.Overwrite)
    columnTypes.foreach(ct => w.option("createTableColumnTypes", ct))
    w.jdbc(url, table, props)
  }

  def readJdbc(spark: SparkSession, url: String, table: String,
      props: Properties = new Properties()): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Upsert into a JDBC table without engine MERGE support (SQLite-
    * class targets). The winner per key is picked by a window over the
    * batch alone (version desc, then the remaining columns desc, a
    * deterministic tie-break), and a winner replaces the stored rows
    * of its key. At warehouse scale swap the terminal hop for the
    * engine's native MERGE and keep the same dedup plan.
    *
    * KEY-SCOPED INSTALL: only the winners (at most the batch's size)
    * are written, to a scratch stage table (`table__stage`). A first
    * load installs the stage by ONE transactional rename. Once the
    * table exists, the stage gets an index on its key columns and ONE
    * transaction deletes the live rows whose key appears in the stage
    * (an `EXISTS` probe into that index), inserts the stage's rows and
    * runs `txnHook`. Upsert mode never reads the live table back, so
    * an installment costs O(batch), not O(table). The live table is
    * never truncated: a crash anywhere before the commit leaves it
    * byte-identical (SinksAtomicSpec kills the stage write mid-flight
    * and proves survival), a crash after it leaves the new state, and
    * a stage left by a crashed run is swept on the next call.
    *
    * CDC: pass `opCol` (a batch column holding 'U' upsert / 'D'
    * delete) and the merge becomes MERGE-INTO with deletes. The window
    * breaks version ties on the op desc (U before D), then the other
    * columns. Here the VERSION wins, not the batch: a late or
    * redelivered change with a STALE version must never beat newer
    * stored state (a stale 'D' would delete a newer row). So the key
    * and version columns of the live table are read, winners whose
    * stored version is newer are dropped in Spark (same-version ties
    * go to the batch), and the survivors are staged with their op. The
    * install deletes every surviving key and inserts only the 'U'
    * rows, so a winning 'D' removes its key. The op column is never
    * stored.
    *
    * `partCol` (a column whose values cluster each batch: a date, a
    * source, a key-range bucket) scopes the CDC stored-version read:
    * `partCol IN (touched)` is pushed down to the database. It must be
    * STABLE per key, or the read misses the stored version of a key
    * that moved partitions and a stale change could win. A batch with
    * a NULL partition value (which never matches the IN filter) or
    * with more than 10,000 distinct ones is refused. In upsert mode,
    * which reads nothing back, `partCol` is accepted and has no
    * effect.
    *
    * Edges:
    *  - a NULL key is a key: a batch row with a NULL key replaces the
    *    stored NULL-key row;
    *  - duplicate keys already in the live table are collapsed only
    *    for the batch's keys (all their rows are replaced); other
    *    duplicates stay;
    *  - a batch whose columns (less `opCol`) differ from the live
    *    table's is refused before any write;
    *  - a string key is matched through a VARCHAR(1024) copy staged
    *    beside it, because Derby-class engines can neither compare nor
    *    index a CLOB (on Derby the live side is compared through a
    *    cast). Once the table exists, a batch key longer than 1,024
    *    characters fails the stage write, before the install; a longer
    *    stored key is never matched. */
  def upsertJdbc(spark: SparkSession, batch: DataFrame, url: String,
      table: String, keyCols: Seq[String], versionCol: String,
      numPartitions: Int = 8, props: Properties = new Properties(),
      partCol: Option[String] = None,
      opCol: Option[String] = None,
      txnHook: java.sql.Connection => Unit = _ => ()): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(partCol.forall(batch.columns.contains),
      s"partCol $partCol must be a batch column")
    require(opCol.forall(batch.columns.contains),
      s"opCol $opCol must be a batch column")
    require(opCol.forall(c => !keyCols.contains(c) && c != versionCol &&
      !partCol.contains(c)), s"opCol $opCol must be a dedicated column")
    val stage = table + "__stage"
    // sweep scratch from a previous crashed run BEFORE deciding paths
    dropIfExists(url, stage, props)
    // existence is decided by catalog metadata, not by whether a read
    // throws: a transient read failure must surface as an error, never
    // silently downgrade the merge to a table-clobbering first load
    val tableExists = jdbcTableExists(url, table, props)
    val dataCols = batch.columns.filterNot(opCol.contains).toSeq
    // live column name per lower-cased batch column (schema only: the
    // JDBC relation resolves its schema without running a job)
    val liveCol: Map[String, String] =
      if (!tableExists) Map.empty
      else {
        val live = readJdbc(spark, url, table, props).columns.toSeq
        require(live.map(_.toLowerCase).sorted ==
          dataCols.map(_.toLowerCase).sorted,
          s"batch columns ${dataCols.mkString(", ")} do not match " +
            s"table $table columns ${live.mkString(", ")}")
        live.map(c => c.toLowerCase -> c).toMap
      }
    val others = dataCols.filterNot(keyCols.contains)
      .filterNot(_ == versionCol).map(col)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(versionCol).desc +: (opCol.map(c => col(c).desc).toSeq ++
        others.map(_.desc))): _*)
    val winners = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val survivors = opCol match {
      case None => winners
      // first load: a winning 'D' has nothing to remove
      case Some(op) if !tableExists =>
        winners.filter(col(op) === "U").drop(op)
      case Some(op) =>
        // stored versions, scoped to the batch's partitions by partCol
        val live = readJdbc(spark, url, table, props)
        val scoped = partCol.fold(live) { p =>
          live.filter(col(p).isin(touchedPartitions(batch, p): _*))
        }
        val stored = scoped.select((keyCols :+ versionCol).map(c =>
          col(c).as("__s_" + c)): _*)
        val (v, sv) = (col(versionCol), col("__s_" + versionCol))
        // the stored row wins iff it sorts strictly first under the
        // window's `version desc` (nulls last)
        val newer = keyCols.map(k => col(k) <=> col("__s_" + k))
          .reduce(_ && _) && (sv > v || (v.isNull && sv.isNotNull))
        winners.join(stored, newer, "left_anti")
          .withColumn(op, when(col(op) === "U", "U").otherwise("D"))
    }
    // Derby-class engines can neither compare nor index a CLOB, the
    // dialect's default for strings, and Spark's JDBC writer binds a
    // NULL string as a CLOB, which a VARCHAR column refuses. So each
    // string key is matched through a VARCHAR copy beside it, with
    // NULL written as '' and told apart by the key itself being NULL.
    val matchCol: Map[String, String] =
      if (!tableExists) Map.empty
      else keyCols.filter(k => batch.schema(k).dataType == StringType)
        .zipWithIndex.map { case (k, i) => k -> s"__key$i" }.toMap
    val staged = matchCol.foldLeft(survivors) { case (df, (k, m)) =>
      df.withColumn(m, coalesce(col(k), lit("")))
    }
    // a first CDC load creates a string partCol as VARCHAR, so later
    // calls can push their IN filter on it
    val stageTypes = Some((matchCol.values.map(m => s"$m VARCHAR($MaxStringKey)") ++
      opCol.filter(_ => tableExists).map(op => s"$op VARCHAR(1)") ++
      partCol.filter(p => !tableExists && opCol.isDefined &&
        batch.schema(p).dataType == StringType)
        .map(p => s"$p VARCHAR($MaxStringKey)")).mkString(", "))
      .filter(_.nonEmpty)
    // the live table is read-only during the stage write, so a failure
    // here costs nothing
    writeRaw(staged, url, stage, numPartitions, props, stageTypes)
    if (!tableExists) {
      inTransaction(url, props) { conn =>
        renameTable(conn, stage, table)
        txnHook(conn)
      }
    } else {
      inTransaction(url, props) { conn =>
        // the index makes the EXISTS below a probe per live row rather
        // than a stage scan per live row
        val indexed = keyCols.map(k => quoted(matchCol.getOrElse(k, k)))
        update(conn, s"CREATE INDEX ${stage}_key ON $stage (${indexed.mkString(", ")})")
        val derby = isDerby(conn)
        def live(k: String) = s"$table.${quoted(liveCol(k.toLowerCase))}"
        def eq(k: String) = matchCol.get(k) match {
          // CAST truncates silently: one character past the longest
          // staged key keeps a longer live key from matching
          case Some(m) =>
            val l = if (derby) s"CAST(${live(k)} AS VARCHAR(${MaxStringKey + 1}))"
              else live(k)
            s"s.${quoted(m)} = $l AND s.${quoted(k)} IS NOT NULL"
          case None => s"s.${quoted(k)} = ${live(k)}"
        }
        update(conn, s"DELETE FROM $table WHERE EXISTS (SELECT 1 " +
          s"FROM $stage s WHERE ${keyCols.map(eq).mkString(" AND ")})")
        // `=` never matches NULL: a NULL key takes its own statement, run
        // only when the stage holds one, so the one above keeps its index
        // probe
        val anyNull = keyCols.map(k => s"${quoted(k)} IS NULL").mkString(" OR ")
        if (query(conn, s"SELECT COUNT(*) FROM $stage WHERE $anyNull") > 0) {
          val nullSafe = keyCols.map(k =>
            s"((${eq(k)}) OR (s.${quoted(k)} IS NULL AND ${live(k)} IS NULL))")
          update(conn, s"DELETE FROM $table WHERE " +
            s"(${keyCols.map(k => s"${live(k)} IS NULL").mkString(" OR ")}) " +
            s"AND EXISTS (SELECT 1 FROM $stage s WHERE ${nullSafe.mkString(" AND ")})")
        }
        val upserts = opCol.fold("")(op => s" WHERE ${quoted(op)} = 'U'")
        update(conn, s"INSERT INTO $table " +
          s"(${dataCols.map(c => quoted(liveCol(c.toLowerCase))).mkString(", ")}) " +
          s"SELECT ${dataCols.map(quoted).mkString(", ")} FROM $stage$upserts")
        txnHook(conn)
      }
      dropIfExists(url, stage, props)
    }
  }

  /** Longest string key the stage holds (and string partCol a first
    * CDC load creates). */
  private val MaxStringKey = 1024

  /** Distinct `p` values of the batch: small by the partCol contract (a
    * batch clusters in few partitions), so the collect is bounded. The
    * cap makes a broken contract fail LOUDLY instead of collecting
    * without bound: a batch touching >10k partitions means partCol is
    * not a partition column for this workload. */
  private def touchedPartitions(batch: DataFrame, p: String): Seq[Any] = {
    import org.apache.spark.sql.functions.col
    val vals = batch.select(col(p)).distinct().limit(10001)
      .collect().map(_.get(0)).toSeq
    require(vals.size <= 10000,
      s"batch touches >10000 distinct '$p' partitions — partCol is " +
        "not clustering this workload; drop partCol")
    // NULL never matches the pushed IN filter, so the stored versions
    // of NULL-partition keys would go unread and a stale change for
    // such a key would win. Fail loudly, like the partition-count cap.
    require(!vals.contains(null),
      s"batch contains NULL '$p' partition values — NULL never " +
        "matches the pushed IN filter, so stale changes could beat " +
        "stored versions; map NULL to a sentinel value or drop partCol")
    vals
  }

  /** Exactly-once foreachBatch terminal hop: apply `batch` via
    * [[upsertJdbc]] UNLESS this (table, batchId) already committed —
    * the bookkeeping row (`table__applied`) is written INSIDE the same
    * install transaction as the data, so "applied" and "recorded" are
    * one atomic fact:
    *
    *  - crash before the install commit → neither data nor record;
    *    Structured Streaming redelivers the batch, it applies cleanly;
    *  - crash after the commit → record present; the redelivered batch
    *    is SKIPPED (returns false) — never double-applied.
    *
    * That is exactly-once sink semantics on top of foreachBatch's
    * at-least-once delivery, the standard batchId-bookkeeping recipe.
    * (A replay from a FRESH checkpoint restarts batch ids; the merge's
    * key-dedup then makes the reapply value-idempotent — both replay
    * shapes end in the same table.) Returns true iff applied. */
  def upsertBatchExactlyOnce(spark: SparkSession, batch: DataFrame,
      batchId: Long, url: String, table: String, keyCols: Seq[String],
      versionCol: String, numPartitions: Int = 8,
      props: Properties = new Properties(),
      partCol: Option[String] = None,
      opCol: Option[String] = None): Boolean = {
    val bk = table + "__applied"
    if (!jdbcTableExists(url, bk, props)) {
      // idempotent bootstrap: losing a race to another creator is fine
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val st = conn.createStatement()
        try st.executeUpdate(s"CREATE TABLE $bk (batch_id BIGINT)")
        catch { case _: java.sql.SQLException => }
        finally st.close()
      } finally conn.close()
    }
    val applied = {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val st = conn.prepareStatement(
          s"SELECT 1 FROM $bk WHERE batch_id = ?")
        try { st.setLong(1, batchId); val rs = st.executeQuery()
          try rs.next() finally rs.close()
        } finally st.close()
      } finally conn.close()
    }
    if (applied) false
    else {
      upsertJdbc(spark, batch, url, table, keyCols, versionCol,
        numPartitions, props, partCol, opCol,
        txnHook = { conn =>
          // unconditional insert: if the skip check ever regressed, a
          // reapply would double-record and any count over the
          // bookkeeping table breaks loudly
          val st = conn.prepareStatement(s"INSERT INTO $bk VALUES (?)")
          try { st.setLong(1, batchId); st.executeUpdate() }
          finally st.close()
        })
      true
    }
  }

  /** Run `body` on a connection with autocommit off; commit on
    * success, roll back on any throw. */
  private def inTransaction(url: String, props: Properties)(
      body: java.sql.Connection => Unit): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      try { body(conn); conn.commit() }
      catch { case e: Throwable =>
        try conn.rollback() catch { case _: Throwable => }
        throw e
      }
    } finally conn.close()
  }

  /** Dialect-bridging rename: Derby spells it `RENAME TABLE a TO b`,
    * SQLite/PostgreSQL-class engines `ALTER TABLE a RENAME TO b`. The
    * dialect is chosen from the connection's driver METADATA, never by
    * probing with a failing statement: engines like PostgreSQL abort
    * the surrounding transaction after ANY failed statement ("current
    * transaction is aborted"), which would break the atomic install
    * the rename runs inside. */
  private def renameTable(conn: java.sql.Connection, from: String,
      to: String): Unit = {
    update(conn,
      if (isDerby(conn)) s"RENAME TABLE $from TO $to"
      else s"ALTER TABLE $from RENAME TO $to")
  }

  private def isDerby(conn: java.sql.Connection): Boolean =
    Option(conn.getMetaData.getDatabaseProductName)
      .getOrElse("").toLowerCase.contains("derby")

  private def quoted(c: String): String = "\"" + c + "\""

  private def update(conn: java.sql.Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  /** The first column of the first row of a one-number query. */
  private def query(conn: java.sql.Connection, sql: String): Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      try { rs.next(); rs.getLong(1) } finally rs.close()
    } finally st.close()
  }

  private def dropIfExists(url: String, table: String,
      props: Properties): Unit =
    if (jdbcTableExists(url, table, props)) {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val st = conn.createStatement()
        try st.executeUpdate(s"DROP TABLE $table") finally st.close()
      } finally conn.close()
    }

  private def jdbcTableExists(url: String, table: String,
      props: Properties): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val md = conn.getMetaData
      // getTables treats the name as a LIKE pattern: escape _ and %
      // so "user_stats" can't wildcard-match "userXstats"
      val esc = Option(md.getSearchStringEscape).getOrElse("\\")
      def escaped(name: String) = name
        .replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
      def probe(name: String) = {
        val rs = md.getTables(null, null, escaped(name), null)
        try rs.next() finally rs.close()
      }
      probe(table) || probe(table.toUpperCase) || probe(table.toLowerCase)
    } finally conn.close()
  }

  /** Hive-style partitioned parquet layout — partition pruning on the
    * partition columns at read time. */
  def writePartitionedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString)
      // multiLine: Spark's CSV writer quotes embedded newlines; without
      // it the reader splits such records mid-row. Explicit quote/escape
      // pins the dialect to what the writer emits.
      .option("multiLine", "true")
      .option("quote", "\"").option("escape", "\\")
      .csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
