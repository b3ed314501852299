package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Synthetic star schema + events + documents + embeddings, shaped like
  * the sf0.1 tables `graft.Tables` reads: the same table and column
  * names, types, key ranges and value domains, with independent uniform
  * draws like the original generator.
  *
  * Every value is a pure function of (table, row id, column) through
  * `xxhash64`, so the tables are identical whatever the partitioning or
  * machine; the expected digests in `expected/digests.json` were taken
  * on exactly these tables. Bump [[Version]] whenever a value changes.
  */
object DataGen {
  val Version = "sf0.1-v2"

  /** Row counts at sf0.1. */
  val Rows: Map[String, Long] = Map(
    "customer" -> 15000L, "supplier" -> 1000L, "part" -> 20000L,
    "orders" -> 150000L, "lineitem" -> 600000L, "events" -> 100000L,
    "documents" -> 2500L, "embeddings" -> 2000L)

  /** Uniform double in [0, 1) for column salt `k` of the current row. */
  private def u(k: Int): String = s"(pmod(xxhash64($k, id), 1000000007) / 1000000007.0D)"
  private def pick(k: Int, values: Seq[String]): String =
    values.map(v => s"'$v'").mkString(s"element_at(array(", ", ",
      s"), cast(floor(${u(k)} * ${values.size}) AS INT) + 1)")
  private def int(k: Int, lo: Int, n: Int): String = s"CAST($lo + floor(${u(k)} * $n) AS INT)"
  private def long(k: Int, n: Long): String = s"CAST(floor(${u(k)} * $n) AS BIGINT)"
  private def day(k: Int, from: String, n: Int): String =
    s"CAST(date_add(DATE'$from', ${int(k, 0, n)}) AS TIMESTAMP)"

  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** Document text as a function of a doc-id expression: 10–100 words. */
  private def textOf(idExpr: String): String = {
    val h = s"xxhash64(7, $idExpr)"
    val nWords = s"CAST(10 + pmod($h, 91) AS INT)"
    val words = vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    s"array_join(transform(sequence(1, $nWords), " +
      s"i -> element_at($words, CAST(pmod(xxhash64(8, $idExpr, i), ${vocab.size}) AS INT) + 1)), ' ')"
  }

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def range(t: String) = spark.range(0L, Rows(t), 1L, 4)
    val region = spark.range(0L, 5L, 1L, 1).selectExpr(
      "CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'), CAST(id AS INT) + 1) AS r_name")
    val nation = spark.range(0L, 25L, 1L, 1).selectExpr(
      "CAST(id AS INT) AS n_nationkey", "concat('NATION_', id) AS n_name",
      "CAST(id % 5 AS INT) AS n_regionkey")
    val customer = range("customer").selectExpr(
      "id AS c_custkey", "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      s"${int(1, 0, 25)} AS c_nationkey",
      s"round(-999.99D + floor(${u(2)} * 1099999) / 100, 2) AS c_acctbal",
      s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment")
    val supplier = range("supplier").selectExpr(
      "id AS s_suppkey", "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      s"${int(1, 0, 25)} AS s_nationkey",
      s"round(-999.99D + floor(${u(2)} * 1099999) / 100, 2) AS s_acctbal")
    val adjectives = Seq("large", "hot", "red", "new", "small", "cold", "old", "blue")
    val nouns = Seq("ring", "bolt", "anvil", "plate", "rod", "gear", "nut", "pipe")
    val part = range("part").selectExpr(
      "id AS p_partkey",
      s"concat(${pick(1, adjectives)}, ' ', ${pick(2, nouns)}) AS p_name",
      s"concat('Brand#', ${int(3, 1, 25)}) AS p_brand",
      s"${pick(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))} AS p_type",
      s"${int(5, 1, 50)} AS p_size",
      "round(900.0D + (id % 1000) / 10.0D, 1) AS p_retailprice")
    val orders = range("orders").selectExpr(
      "id AS o_orderkey", s"${long(1, Rows("customer"))} AS o_custkey",
      s"${pick(2, Seq("F", "O", "P"))} AS o_orderstatus",
      s"round(1000.0D + floor(${u(3)} * 49900000) / 100, 2) AS o_totalprice",
      s"${day(4, "1995-01-01", 2404)} AS o_orderdate",
      s"${pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority")
    val lineitem = range("lineitem").selectExpr(
      s"${long(1, Rows("orders"))} AS l_orderkey", s"${long(2, Rows("part"))} AS l_partkey",
      s"${long(3, Rows("supplier"))} AS l_suppkey", s"${int(4, 1, 7)} AS l_linenumber",
      s"CAST(${int(5, 1, 50)} AS DOUBLE) AS l_quantity",
      s"round(${int(5, 1, 50)} * (900.0D + floor(${u(6)} * 120000) / 100), 2) AS l_extendedprice",
      s"${int(7, 0, 11)} / 100.0D AS l_discount", s"${int(8, 0, 9)} / 100.0D AS l_tax",
      s"${pick(9, Seq("A", "N", "R"))} AS l_returnflag",
      s"${pick(10, Seq("F", "O"))} AS l_linestatus",
      s"${day(11, "1995-01-02", 2498)} AS l_shipdate")
    val events = range("events").selectExpr(
      "id AS event_id",
      s"timestamp_micros(1704067200000000L + ${long(1, 30L * 86400L * 1000000L)}) AS ts",
      s"${long(2, 1500L)} AS user_id",
      s"${pick(3, Seq("click", "error", "purchase", "signup", "view"))} AS event_type",
      s"round(-ln(1.0D - ${u(4)}) * 50.0D, 2) AS value",
      s"concat('{\"k\": ', ${int(5, 0, 100)}, '}') AS props")
    // 5% near-duplicates (an earlier doc's text plus " dup") and 0.2%
    // exact copies, so the dedup operators have real clusters to find.
    val documents = range("documents").selectExpr(
      "id AS doc_id",
      s"CASE WHEN id > 50 AND ${u(1)} < 0.05D THEN concat(${textOf(s"id - 1 - ${long(2, 50L)}")}, ' dup') " +
        s"WHEN id > 50 AND ${u(1)} < 0.052D THEN ${textOf(s"id - 1 - ${long(2, 50L)}")} " +
        s"ELSE ${textOf("id")} END AS text",
      s"CASE WHEN ${u(3)} < 0.4D THEN 'en' ELSE ${pick(4, Seq("de", "es", "fr", "zh"))} END AS lang",
      "concat('src', id % 20) AS source"
    ).selectExpr("*", "CAST(length(text) AS BIGINT) AS n_chars")
    // unit vectors around ten label centroids
    val embeddings = range("embeddings").selectExpr("id AS vec_id", s"${int(1, 0, 10)} AS label")
      .selectExpr("vec_id", "label",
        "transform(sequence(0, 63), j -> " +
          "(pmod(xxhash64(11, label, j), 2000003) / 2000003.0D - 0.5D) + " +
          "0.6D * (pmod(xxhash64(12, vec_id, j), 2000003) / 2000003.0D - 0.5D)) AS v")
      .selectExpr("vec_id", "v", "label",
        "sqrt(aggregate(v, 0.0D, (acc, x) -> acc + x * x)) AS norm")
      .selectExpr("vec_id", "CAST(transform(v, x -> x / norm) AS ARRAY<FLOAT>) AS embedding", "label")
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each). */
  def write(spark: SparkSession, dir: String): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    tables(spark).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
