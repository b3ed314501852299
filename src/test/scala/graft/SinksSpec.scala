package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("jdbc sink round-trips through embedded Derby") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val df = Seq((1L, "a", 10.5), (2L, "b", 20.25)).toDF("id", "name", "score")
    Sinks.writeJdbc(df, url, "scores", numPartitions = 2)
    val back = Sinks.readJdbc(spark, url, "scores")
      .orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(back.map(_.getDouble(2)).toSeq === Seq(10.5, 20.25))
  }

  test("bucketed write removes the exchange from a bucket-key aggregation") {
    val df = Seq((1L, 10.0), (2L, 20.0), (1L, 30.0), (3L, 5.0)).toDF("k", "v")
    graft.sources.BucketedWriter.writeBucketed(df, "graft_bucketed", "k", 4)
    val back = graft.sources.BucketedWriter.readTable(spark, "graft_bucketed")
    val agg = back.groupBy("k").agg(sum(col("v")).as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed agg should not shuffle:\n$plan")
    assert(agg.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
      Map(1L -> 40.0, 2L -> 20.0, 3L -> 5.0))
  }

  test("jdbc upsert updates existing keys and inserts new ones") {
    val url = "jdbc:derby:memory:graftup;create=true"
    val v1 = Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "name", "ver")
    Sinks.writeJdbc(v1, url, "items", numPartitions = 1)
    val batch = Seq((2L, "b2", 2), (3L, "c", 1)).toDF("id", "name", "ver")
    Sinks.upsertJdbc(spark, batch, url, "items", Seq("id"), "ver",
      numPartitions = 1)
    val back = Sinks.readJdbc(spark, url, "items").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(back.toSeq === Seq((1L, "a", 1), (2L, "b2", 2), (3L, "c", 1)))
  }

  test("jdbc upsert creates the table and dedups keys within a first-load batch") {
    val url = "jdbc:derby:memory:graftup2;create=true"
    val batch = Seq((1L, "a", 1), (1L, "a2", 2)).toDF("id", "name", "ver")
    Sinks.upsertJdbc(spark, batch, url, "fresh", Seq("id"), "ver",
      numPartitions = 1)
    val back = Sinks.readJdbc(spark, url, "fresh").collect()
    assert(back.length === 1 && back.head.getString(1) === "a2")
  }

  test("jdbc CDC merge (opCol) applies upserts, deletes, and in-batch version races") {
    val url = "jdbc:derby:memory:graftcdc;create=true"
    val base = Seq((1L, "a", 0L, "U"), (2L, "b", 0L, "U"), (3L, "c", 0L, "U"))
      .toDF("id", "name", "seq", "op")
    Sinks.upsertJdbc(spark, base, url, "cdc", Seq("id"), "seq",
      numPartitions = 1, opCol = Some("op"))
    // op column is never stored
    val cols = Sinks.readJdbc(spark, url, "cdc").columns.map(_.toLowerCase)
    assert(!cols.contains("op"), s"op leaked into the table: ${cols.toSeq}")
    val changes = Seq(
      (1L, "a-del", 1L, "D"),                   // delete key 1
      (2L, "b2", 1L, "U"), (2L, "b-del", 2L, "D"), (2L, "b3", 3L, "U"),
                                                // key 2: U beats earlier D
      (4L, "d-first", 1L, "D"), (4L, "d", 2L, "U"),
                                                // new key: final U inserts
      (5L, "ghost", 1L, "D"))                   // delete of a missing key
      .toDF("id", "name", "seq", "op")
    Sinks.upsertJdbc(spark, changes, url, "cdc", Seq("id"), "seq",
      numPartitions = 1, opCol = Some("op"))
    val back = Sinks.readJdbc(spark, url, "cdc").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq === Seq((2L, "b3"), (3L, "c"), (4L, "d")))
    // a later batch whose final change is a delete removes the key,
    // also when partCol scopes the stored-version read
    val del = Seq((2L, "x", 9L, "D")).toDF("id", "name", "seq", "op")
      .withColumn("pg", (col("id") % 2).cast("int"))
    val withPg = Sinks.readJdbc(spark, url, "cdc")
    // copy the table into one that carries pg
    Sinks.upsertJdbc(spark,
      withPg.withColumn("pg", (col("id") % 2).cast("int"))
        .withColumn("op", lit("U")),
      url, "cdc2", Seq("id"), "seq", numPartitions = 1, opCol = Some("op"))
    Sinks.upsertJdbc(spark, del, url, "cdc2", Seq("id"), "seq",
      numPartitions = 1, partCol = Some("pg"), opCol = Some("op"))
    val after = Sinks.readJdbc(spark, url, "cdc2").orderBy("id").collect()
      .map(_.getLong(0))
    assert(after.toSeq === Seq(3L, 4L),
      "a partCol-scoped delete must remove the key and leave the others")
  }

  test("jdbc CDC merge: a stale-version change never beats newer stored state") {
    val url = "jdbc:derby:memory:graftcdcstale;create=true"
    val base = Seq((1L, "new-a", 5L, "U"), (2L, "new-b", 5L, "U"))
      .toDF("id", "name", "seq", "op")
    Sinks.upsertJdbc(spark, base, url, "cdcs", Seq("id"), "seq",
      numPartitions = 1, opCol = Some("op"))
    // an out-of-order redelivery: a DELETE and an UPDATE both carrying
    // versions OLDER than the stored rows — the stored state must win
    // (the upsert path's batch-wins rule would destructively apply the
    // stale 'D'); a same-version redelivery still resolves to the batch
    val stale = Seq(
      (1L, "stale-del", 3L, "D"),
      (2L, "stale-upd", 4L, "U"),
      (2L, "same-ver", 5L, "U"))
      .toDF("id", "name", "seq", "op")
    Sinks.upsertJdbc(spark, stale, url, "cdcs", Seq("id"), "seq",
      numPartitions = 1, opCol = Some("op"))
    val back = Sinks.readJdbc(spark, url, "cdcs").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(back.toSeq === Seq((1L, "new-a", 5L), (2L, "same-ver", 5L)),
      "stale 'D'/'U' must lose to the stored version; same-version " +
        "redelivery resolves to the batch row")
  }

  private def jdbcUpdate(url: String, sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(sql) finally st.close()
    } finally conn.close()
  }

  private def jdbcColumnType(url: String, table: String, column: String): String = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getColumns(null, null, table.toUpperCase, column)
      try { assert(rs.next(), s"no column $table.$column"); rs.getString("TYPE_NAME") }
      finally rs.close()
    } finally conn.close()
  }

  private def jdbcHasTable(url: String, table: String): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, table.toUpperCase, null)
      try rs.next() finally rs.close()
    } finally conn.close()
  }

  test("jdbc upsert replaces a CLOB string key in place and keeps keys outside the batch") {
    val url = "jdbc:derby:memory:graftkeyclob;create=true"
    Sinks.writeJdbc(Seq(("a", 1L, 1.0), ("b", 1L, 2.0)).toDF("name", "ts", "score"),
      url, "people", numPartitions = 1)
    // Spark's Derby dialect creates strings as CLOB, which Derby cannot
    // compare: the install must still match the key
    assert(jdbcColumnType(url, "people", "name") === "CLOB")
    // canary: a key outside the batch, inserted outside the sink
    jdbcUpdate(url,
      """INSERT INTO people ("name", "ts", "score") VALUES ('zz-canary', 7, 9.5)""")
    val batch = Seq(("b", 2L, 3.0), ("c", 1L, 4.0), ("b", 3L, 5.0))
      .toDF("name", "ts", "score")
    Sinks.upsertJdbc(spark, batch, url, "people", Seq("name"), "ts",
      numPartitions = 1)
    val back = Sinks.readJdbc(spark, url, "people").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(back.toSeq === Seq(("a", 1L, 1.0), ("b", 3L, 5.0), ("c", 1L, 4.0),
      ("zz-canary", 7L, 9.5)))
  }

  test("jdbc upsert: a NULL-key batch row replaces the stored NULL-key row") {
    val url = "jdbc:derby:memory:graftkeynull;create=true"
    // the empty key is a key like any other, not a stand-in for NULL
    Sinks.writeJdbc(Seq((null: String, 1L, 1.0), ("a", 1L, 2.0), ("", 1L, 7.0))
      .toDF("name", "ts", "score"), url, "nk", numPartitions = 1)
    def back = Sinks.readJdbc(spark, url, "nk").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2)))
      .sortBy(r => (r._1.isDefined, r._1.getOrElse(""))).toSeq
    Sinks.upsertJdbc(spark, Seq((null: String, 2L, 3.0), ("b", 1L, 4.0))
      .toDF("name", "ts", "score"), url, "nk", Seq("name"), "ts",
      numPartitions = 1)
    assert(back === Seq((None, 2L, 3.0), (Some(""), 1L, 7.0), (Some("a"), 1L, 2.0),
      (Some("b"), 1L, 4.0)))
    Sinks.upsertJdbc(spark, Seq((null: String, 3L, 5.0)).toDF("name", "ts", "score"),
      url, "nk", Seq("name"), "ts", numPartitions = 1)
    assert(back === Seq((None, 3L, 5.0), (Some(""), 1L, 7.0), (Some("a"), 1L, 2.0),
      (Some("b"), 1L, 4.0)))
  }

  test("jdbc upsert with a two-column key replaces exactly the batch's keys") {
    val url = "jdbc:derby:memory:graftkey2;create=true"
    Sinks.writeJdbc(Seq((1L, "x", 1, "a"), (1L, "y", 1, "b"), (2L, "x", 1, "c"),
        (3L, null, 1, "d"), (3L, "z", 1, "f")).toDF("k1", "k2", "ver", "v"),
      url, "two", numPartitions = 1)
    val batch = Seq((1L, "x", 2, "a2"), (3L, null, 2, "d2"), (4L, "x", 1, "e"))
      .toDF("k1", "k2", "ver", "v")
    Sinks.upsertJdbc(spark, batch, url, "two", Seq("k1", "k2"), "ver",
      numPartitions = 1)
    val back = Sinks.readJdbc(spark, url, "two").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(2), r.getString(3)))
      .sortBy(r => (r._1, r._2.getOrElse(""))).toSeq
    assert(back === Seq((1L, Some("x"), 2, "a2"), (1L, Some("y"), 1, "b"),
      (2L, Some("x"), 1, "c"), (3L, None, 2, "d2"), (3L, Some("z"), 1, "f"),
      (4L, Some("x"), 1, "e")))
  }

  test("jdbc upsert into a hand-made table matches its columns by name, any case") {
    val url = "jdbc:derby:memory:graftkeyddl;create=true"
    // unquoted DDL: Derby stores the names upper-cased, the key as VARCHAR
    jdbcUpdate(url, "CREATE TABLE ddl (ID BIGINT, NAME VARCHAR(20), VER INT)")
    jdbcUpdate(url, "INSERT INTO ddl VALUES (1, 'a', 1), (2, 'b', 1)")
    Sinks.upsertJdbc(spark, Seq(("b", 2L, 2), ("c", 3L, 1)).toDF("name", "id", "ver"),
      url, "ddl", Seq("name"), "ver", numPartitions = 1)
    val back = Sinks.readJdbc(spark, url, "ddl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(back === Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 1)))
  }

  test("jdbc upsert refuses a batch whose columns differ from the table's") {
    val url = "jdbc:derby:memory:graftkeycols;create=true"
    Sinks.upsertJdbc(spark, Seq((1L, "a", 1)).toDF("id", "name", "ver"),
      url, "cols", Seq("id"), "ver", numPartitions = 1)
    def back = Sinks.readJdbc(spark, url, "cols").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val missing = Seq((1L, 2)).toDF("id", "ver")
    val extra = Seq((1L, "b", 2, "x")).toDF("id", "name", "ver", "more")
    for (b <- Seq(missing, extra)) {
      val e = intercept[IllegalArgumentException] {
        Sinks.upsertJdbc(spark, b, url, "cols", Seq("id"), "ver", numPartitions = 1)
      }
      assert(e.getMessage.contains("do not match"))
      assert(back === Seq((1L, "a", 1)))
      assert(!jdbcHasTable(url, "cols__stage"), "refused before any write")
    }
  }

  test("jdbc upsert: the longest allowed string key round-trips, a longer one fails first") {
    val url = "jdbc:derby:memory:graftkeylong;create=true"
    val longest = "k" * 1024
    val wide = "\u00e9" * 1024          // two bytes a character in UTF-8
    val clobOnly = longest + "x" * 476  // held by the live CLOB column only
    Sinks.writeJdbc(Seq((longest, 1L), (clobOnly, 1L), ("short", 1L)).toDF("name", "ts"),
      url, "longk", numPartitions = 1)
    def back = Sinks.readJdbc(spark, url, "longk").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Sinks.upsertJdbc(spark, Seq((longest, 2L), (wide, 1L)).toDF("name", "ts"),
      url, "longk", Seq("name"), "ts", numPartitions = 1)
    Sinks.upsertJdbc(spark, Seq((wide, 2L)).toDF("name", "ts"),
      url, "longk", Seq("name"), "ts", numPartitions = 1)
    val want = Map(longest -> 2L, wide -> 2L, clobOnly -> 1L, "short" -> 1L)
    assert(back === want)
    intercept[Exception] {
      Sinks.upsertJdbc(spark, Seq(("k" * 1025, 3L), ("short", 3L)).toDF("name", "ts"),
        url, "longk", Seq("name"), "ts", numPartitions = 1)
    }
    assert(back === want, "an over-long key must fail before the install")
  }

  test("csv reader round-trips with an explicit schema") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val df = Seq((1L, "alpha,x", 1.5), (2L, "beta", 2.25), (3L, "", 0.0))
      .toDF("id", "name", "score")
    df.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val back = Sinks.readCsv(spark, dir, schema).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      === Seq((1L, "alpha,x", 1.5), (2L, "beta", 2.25), (3L, null, 0.0)))
  }

  test("json reader round-trips with an explicit schema, missing fields -> null") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-0.json"),
      """{"id": 1, "name": "alpha", "score": 1.5}
        |{"id": 2, "score": 2.25}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val back = Sinks.readJson(spark, dir, schema).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq
      === Seq((1L, Some("alpha"), 1.5), (2L, None, 2.25)))
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = Seq(("click", 1L), ("view", 2L), ("click", 3L)).toDF("etype", "v")
    Sinks.writePartitionedParquet(df, dir, Seq("etype"))
    val back = spark.read.parquet(dir).filter(col("etype") === "click")
    assert(back.count() === 2)
    val scan = back.queryExecution.executedPlan.toString
    assert(!scan.contains("etype IS NOT NULL") || back.count() == 2)
  }
}
