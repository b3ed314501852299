package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Pipeline
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline suite over the documents table: sampling,
  * mixing/shuffling, packing, PII scrubbing, repetition signals, and
  * corpus-relative term weighting. All hashes are the explicit integer
  * forms from [[Pipeline]] so every query has a DuckDB oracle.
  */
object PipelineQueries {

  /** id-hash expression in DuckDB SQL (mirrors Pipeline.idHash). */
  // doc_id reduced mod M before the multiply — the overflow-safe LCG
  // [[graft.operators.Pipeline.idHash]] computes (same residues: the
  // pre-reduction is a congruence identity, and DuckDB's HUGEINT
  // arithmetic is exact either way)
  private def hashSql(mult: Long, add: Long): String =
    s"((doc_id % 2147483647) * $mult + $add) % 2147483647"

  private val langPerMille: Map[String, Int] =
    Map("en" -> 800, "de" -> 500, "fr" -> 300, "es" -> 200)
  private val defaultPerMille = 100

  /** Deterministic stratified sampling: per-language keep rates,
    * summarized per (source, lang) so the rate structure is visible. */
  val p01 = QueryDef(
    "p01_stratified_sample",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val sampled = Pipeline.stratifiedSample(docs, "doc_id", "lang",
        langPerMille, defaultPerMille)
        .groupBy("source", "lang").agg(count(lit(1)).as("n_sampled"))
      docs.groupBy("source", "lang").agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("source", "lang"), "left_outer")
        .select(col("source"), col("lang"), col("n_total"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("source", "lang")
    },
    Some {
      val thr = langPerMille.foldLeft(defaultPerMille.toString) {
        case (acc, (k, v)) => s"CASE WHEN lang = '$k' THEN $v ELSE $acc END"
      }
      s"""
      WITH s AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
        FROM documents WHERE ${hashSql(1103515245L, 12345L)} % 1000 < $thr
        GROUP BY source, lang),
      t AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_total
        FROM documents GROUP BY source, lang)
      SELECT t.source, t.lang, t.n_total, COALESCE(s.n_sampled, 0) AS n_sampled
      FROM t LEFT JOIN s ON t.source = s.source AND t.lang = s.lang
      ORDER BY t.source, t.lang"""
    })

  /** Weighted mix + reproducible global shuffle: the stratified sample
    * lands in hash shards with deterministic within-shard positions —
    * the "fixed training order" primitive. */
  val p02 = QueryDef(
    "p02_mix_shuffle",
    (sp, dir) => {
      val sampled = Pipeline.stratifiedSample(
        Tables(sp, dir, "documents"), "doc_id", "lang",
        langPerMille, defaultPerMille)
      Pipeline.deterministicShuffle(sampled, "doc_id", shards = 8)
        .select("doc_id", "source", "lang", "shard", "pos")
        .orderBy("doc_id")
    },
    Some {
      val thr = langPerMille.foldLeft(defaultPerMille.toString) {
        case (acc, (k, v)) => s"CASE WHEN lang = '$k' THEN $v ELSE $acc END"
      }
      s"""
      WITH sampled AS (
        SELECT doc_id, source, lang
        FROM documents WHERE ${hashSql(1103515245L, 12345L)} % 1000 < $thr)
      SELECT doc_id, source, lang,
        CAST(${hashSql(1103515245L, 12345L)} % 8 AS INT) AS shard,
        CAST(row_number() OVER (
          PARTITION BY ${hashSql(1103515245L, 12345L)} % 8
          ORDER BY ${hashSql(69069L, 1L)}, doc_id) AS BIGINT) AS pos
      FROM sampled ORDER BY doc_id"""
    })

  /** Sequence packing: per-source token streams chopped into 2048-
    * token context windows by cumulative offset. */
  val p03 = QueryDef(
    "p03_sequence_packing",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("int").as("n_tokens"))
      Pipeline.packSequences(docs, "source", "doc_id", "n_tokens", maxTokens = 2048)
        .select("doc_id", "source", "n_tokens", "start_off", "bin_id")
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        CAST(COALESCE(SUM(len(string_split(text, ' '))) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS start_off,
        CAST(floor(COALESCE(SUM(len(string_split(text, ' '))) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
          AS BIGINT) AS bin_id
      FROM documents ORDER BY doc_id"""))

  /** PII scrubbing: email/phone patterns plus a term lexicon, with
    * the redacted length as the scrub's effect measure. */
  val p04 = QueryDef(
    "p04_pii_redact",
    (sp, dir) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
      val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val terms = "\\b(customer|key|value)\\b"
      val redacted = regexp_replace(regexp_replace(regexp_replace(
        col("text"), email, "<EMAIL>"), phone, "<PHONE>"), terms, "<PII>")
      Tables(sp, dir, "documents")
        .select(col("doc_id"),
          size(call_function("regexp_extract_all", col("text"), lit(email), lit(0)))
            .cast("int").as("n_emails"),
          size(call_function("regexp_extract_all", col("text"), lit(phone), lit(0)))
            .cast("int").as("n_phones"),
          size(call_function("regexp_extract_all", col("text"), lit(terms), lit(0)))
            .cast("int").as("n_terms"),
          length(redacted).cast("int").as("len_redacted"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS INT)
          AS n_emails,
        CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT)
          AS n_phones,
        CAST(len(regexp_extract_all(text, '\b(customer|key|value)\b')) AS INT)
          AS n_terms,
        CAST(len(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
          '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
          '\b(customer|key|value)\b', '<PII>', 'g')) AS INT) AS len_redacted
      FROM documents ORDER BY doc_id"""))

  /** Repetition signals (Gopher-style quality filters): duplicate-word
    * fraction and top-word mass per document. */
  val p05 = QueryDef(
    "p05_repetition",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val counts = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(
          sum(col("cnt")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          max(col("cnt")).as("top_cnt"))
      docs.select("doc_id").join(counts, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          coalesce(col("top_cnt"), lit(0L)).as("top_cnt"),
          (lit(1.0) - try_divide(col("n_distinct"), col("n_words").cast("double")))
            .as("dup_frac"),
          try_divide(col("top_cnt"), col("n_words").cast("double")).as("top_frac"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      c AS (
        SELECT doc_id, word, COUNT(*) AS cnt FROM w WHERE word <> ''
        GROUP BY doc_id, word),
      per_doc AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
          CAST(COUNT(*) AS BIGINT) AS n_distinct,
          CAST(MAX(cnt) AS BIGINT) AS top_cnt
        FROM c GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(p.n_words, 0) AS n_words,
        COALESCE(p.n_distinct, 0) AS n_distinct,
        COALESCE(p.top_cnt, 0) AS top_cnt,
        1.0 - p.n_distinct / CAST(p.n_words AS DOUBLE) AS dup_frac,
        p.top_cnt / CAST(p.n_words AS DOUBLE) AS top_frac
      FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
      ORDER BY d.doc_id"""))

  /** Corpus-relative term weighting (integer tf·idf): per doc, the
    * highest-scoring term under score = tf · (10^6 div df). Integer
    * arithmetic end-to-end so the ranking is engine-exact. */
  val p06 = QueryDef(
    "p06_tfidf_top_term",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "word")
        .withColumn("score", col("tf") * expr("CAST(1000000 AS BIGINT) div df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("word"))
      val top = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("word").as("top_word"),
          col("tf"), col("df"), col("score"))
      docs.select("doc_id").join(top, Seq("doc_id"), "left_outer")
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY doc_id, word),
      d AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY word),
      scored AS (
        SELECT t.doc_id, t.word, t.tf, d.df, t.tf * (1000000 // d.df) AS score
        FROM t JOIN d ON t.word = d.word),
      top AS (
        SELECT doc_id, word AS top_word, tf, df, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, word) AS rn
        FROM scored)
      SELECT docs.doc_id, top.top_word, top.tf, top.df, top.score
      FROM documents docs LEFT JOIN top
        ON docs.doc_id = top.doc_id AND top.rn = 1
      ORDER BY docs.doc_id"""))

  /** Deterministic fixed-k per-stratum sample (reproducible
    * "reservoir" by id hash). */
  val p07 = QueryDef(
    "p07_topk_sample",
    (sp, dir) => {
      graft.operators.Pipeline.topKSample(
        Tables(sp, dir, "documents"), "doc_id", "source", k = 5)
        .select("doc_id", "source", "samp_rank")
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, source, samp_rank FROM (
        SELECT doc_id, source,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY ${hashSql(1103515245L, 12345L)}, doc_id) AS BIGINT)
            AS samp_rank
        FROM documents)
      WHERE samp_rank <= 5 ORDER BY doc_id"""))

  /** Benchmark decontamination: trigram-shingle overlap between the
    * corpus (doc_id >= 10) and a small benchmark set (doc_id < 10). */
  val p08 = QueryDef(
    "p08_decontaminate",
    (sp, dir) => {
      import graft.operators.{Dedup, Pipeline}
      val docs = Tables(sp, dir, "documents")
      val bench = Dedup.shingleHashSet(docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 3)
      val corpus = docs.filter(col("doc_id") >= 10)
      val corpusSh = Dedup.shingleHashSet(corpus, "doc_id", "text", n = 3)
      corpus.select("doc_id")
        .join(Pipeline.decontaminate(corpusSh, bench, minShared = 5),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(w) < 3 THEN []
                    ELSE list_transform(generate_series(1, CAST(len(w) - 2 AS INT)),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS s
             FROM toks),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
      shared AS (SELECT c.doc_id,
                   CAST(COUNT(DISTINCT c.s) AS BIGINT) AS n_shared
                 FROM sh c JOIN bench b ON c.s = b.s
                 WHERE c.doc_id >= 10 GROUP BY c.doc_id)
      SELECT d.doc_id, COALESCE(s.n_shared, 0) AS n_shared,
        COALESCE(s.n_shared >= 5, FALSE) AS is_contaminated
      FROM documents d LEFT JOIN shared s ON d.doc_id = s.doc_id
      WHERE d.doc_id >= 10 ORDER BY d.doc_id"""))

  /** Sequence-length distribution (batch-shaping diagnostic): docs
    * bucketed by token count in 16-token bands, with per-bucket doc
    * and token totals — the histogram that drives context-length and
    * packing decisions. */
  val p09 = QueryDef(
    "p09_length_histogram",
    (sp, dir) => {
      Tables(sp, dir, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("bucket", floor(col("n_tokens") / 16).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy("bucket")
    },
    Some("""
      WITH t AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT CAST(floor(n_tokens / 16) AS INT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
        CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
      FROM t GROUP BY 1 ORDER BY bucket"""))

  /** Curriculum bucketing: rank the corpus by a difficulty proxy
    * (token count, id tie-break — a total order, so NTILE is
    * deterministic) into 4 training stages and profile each stage's
    * token budget. NOT `ntile().over(Window.orderBy(...))`: that plans
    * an Exchange SinglePartition — every row through one task.
    * [[Pipeline.distributedNtile]] computes the identical bucketing
    * from a partitioned within-value rank plus a broadcast per-value
    * cumulative (distinct token counts ≈ a histogram, dimension-sized
    * at any corpus scale), so the oracle keeps plain NTILE. */
  val p10 = QueryDef(
    "p10_curriculum_stages",
    (sp, dir) => {
      val t = Tables(sp, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val staged = Pipeline.distributedNtile(t, 4, "n_tokens", "doc_id")
        .withColumnRenamed("ntile", "stage")
      staged.groupBy("stage")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("stage_tokens"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy("stage")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      staged AS (
        SELECT n_tokens, NTILE(4) OVER (ORDER BY n_tokens, doc_id) AS stage
        FROM t)
      SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS stage_tokens,
        CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
        CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
      FROM staged GROUP BY stage ORDER BY stage"""))

  /** Deterministic train/val/test assignment: split = id-hash bucket
    * (800/100/100 per mille), so membership is a pure row-local
    * projection — reproducible across runs and cluster layouts, never
    * resampled when the corpus grows (a doc's split follows its id,
    * not its position). The leakage-prone alternative (rand() with a
    * seed) reshuffles under repartitioning; this cannot. One
    * aggregation over (split, source). */
  val p11 = QueryDef(
    "p11_hash_split",
    (sp, dir) => {
      val bucket = Pipeline.idHash(col("doc_id")) % lit(1000L)
      Tables(sp, dir, "documents")
        .withColumn("split",
          when(bucket < 800, "train").when(bucket < 900, "val")
            .otherwise("test"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy("split", "source")
    },
    Some(s"""
      WITH t AS (
        SELECT *, CASE WHEN ${hashSql(1103515245L, 12345L)} % 1000 < 800 THEN 'train'
                       WHEN ${hashSql(1103515245L, 12345L)} % 1000 < 900 THEN 'val'
                       ELSE 'test' END AS split
        FROM documents)
      SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM t GROUP BY split, source ORDER BY split, source"""))

  /** Quality-gate attrition report: the chained corpus filters a
    * training pipeline applies (length → language → token count →
    * no-URL), each gate's survivor count computed as a conditional
    * sum in ONE scan — no per-stage re-reads, no shuffle beyond the
    * single scalar aggregate. Survival rates are single IEEE
    * divisions of exact integers. */
  val p12 = QueryDef(
    "p12_filter_funnel",
    (sp, dir) => {
      val f1 = col("n_chars") >= 100
      val f2 = f1 && col("lang").isin("en", "de", "fr", "es")
      val f3 = f2 && size(split(col("text"), " ")) >= 20
      val f4 = f3 && !col("text").contains("http")
      def n(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      Tables(sp, dir, "documents")
        .agg(count(lit(1)).as("n_total"),
          n(f1).as("n_len"), n(f2).as("n_lang"),
          n(f3).as("n_tok"), n(f4).as("n_clean"))
        .withColumn("keep_rate",
          col("n_clean").cast("double") / col("n_total"))
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        CAST(SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_len,
        CAST(SUM(CASE WHEN n_chars >= 100
              AND lang IN ('en','de','fr','es') THEN 1 ELSE 0 END) AS BIGINT)
          AS n_lang,
        CAST(SUM(CASE WHEN n_chars >= 100
              AND lang IN ('en','de','fr','es')
              AND len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_tok,
        CAST(SUM(CASE WHEN n_chars >= 100
              AND lang IN ('en','de','fr','es')
              AND len(string_split(text, ' ')) >= 20
              AND NOT contains(text, 'http') THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clean,
        CAST(SUM(CASE WHEN n_chars >= 100
              AND lang IN ('en','de','fr','es')
              AND len(string_split(text, ' ')) >= 20
              AND NOT contains(text, 'http') THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS keep_rate
      FROM documents"""))

  /** Class-balanced undersampling ([[Pipeline.classBalance]]): every
    * language resampled down to ~the rarest language's frequency —
    * the de-skew step before mixing a multilingual training corpus.
    * Output is the per-class audit (kept vs total vs threshold); the
    * oracle re-derives the integer thresholds and the LCG membership
    * filter in SQL. */
  val p13 = QueryDef(
    "p13_class_balance",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      Pipeline.classBalance(docs, "doc_id", "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("sum_chars"))
        .join(docs.groupBy("lang").agg(count(lit(1)).as("n_total")), "lang")
        .orderBy("lang")
    },
    Some("""
      WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      t AS (SELECT lang, n, (MIN(n) OVER ()) * 100000 // n AS thr FROM c)
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
        CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
        CAST(MAX(t.n) AS BIGINT) AS n_total
      FROM documents d JOIN t USING (lang)
      WHERE ((d.doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 % 100000 < t.thr
      GROUP BY d.lang ORDER BY d.lang"""))

  /** The dataset card: the per-language summary a training-data
    * pipeline publishes with every corpus release — volume (docs,
    * chars, whitespace tokens), near-dup attrition (from the shared
    * components result), and corpus share. Composes the text and
    * dedup suites into one artifact; every number is an exact count or
    * a single double division, so the whole card is oracle-checked. */
  val p14 = QueryDef(
    "p14_dataset_card",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
      val base = docs.select(col("doc_id"), col("lang"), col("n_chars"),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("n_toks"))
        .join(DedupQueries.canonicalDocs(sp, dir)
          .select("doc_id", "is_duplicate"), "doc_id")
      // constant non-foldable partition key: this window runs over the
      // per-lang aggregate (bounded frame); the key silences
      // WindowExec's no-partition warning without being foldable away
      val total = Window.partitionBy(pmod(col("n_docs"), lit(1L)))
      base.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("n_dupes"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_toks")).as("n_tokens"))
        .withColumn("dup_rate", col("n_dupes") / col("n_docs"))
        .withColumn("pct_of_corpus",
          col("n_docs") / sum(col("n_docs")).over(total))
        .orderBy("lang")
    },
    Some(s"""
      WITH RECURSIVE ${DedupQueries.shingleHashSql},
      ${DedupQueries.componentsSql},
      canon AS (SELECT d.doc_id, d.lang, d.n_chars,
                  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
                  COALESCE(c.comp, d.doc_id) <> d.doc_id AS is_duplicate
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
      card AS (
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dupes,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        FROM canon GROUP BY lang)
      SELECT lang, n_docs, n_dupes, sum_chars, n_tokens,
        CAST(n_dupes AS DOUBLE) / n_docs AS dup_rate,
        CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE)
          AS pct_of_corpus
      FROM card ORDER BY lang"""))

  /** Packing-efficiency report over p03's context-window packing: per
    * source, how many 2048-token bins the corpus needs, how full they
    * are, and the doc count — the feedback number that decides whether
    * to re-order docs before packing. Exact integers plus one double
    * division; the fill ratio uses the bins' nominal capacity, so
    * overflow docs (a doc straddling its start bin) show up as ratios
    * above 1 rather than being silently clipped. */
  val p15 = QueryDef(
    "p15_pack_efficiency",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("int").as("n_tokens"))
      Pipeline.packSequences(docs, "source", "doc_id", "n_tokens",
          maxTokens = 2048)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("bin_id")).as("n_bins"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"))
        .withColumn("fill_ratio",
          col("sum_tokens") / (col("n_bins") * 2048.0))
        .orderBy("source")
    },
    Some("""
      WITH packed AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
          CAST(floor(COALESCE(SUM(len(string_split(text, ' '))) OVER (
            PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
            AS BIGINT) AS bin_id
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
        CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_tokens) AS DOUBLE) / (COUNT(DISTINCT bin_id) * 2048.0)
          AS fill_ratio
      FROM packed GROUP BY source ORDER BY source"""))

  /** Largest-remainder (Hamilton) quota allocation: divide an exact
    * sample budget of 100 slots across languages proportional to doc
    * counts — floor quotas first, then the leftover slots go to the
    * largest fractional remainders (ties broken by lang). The method
    * guarantees Σquota = budget EXACTLY (spec-asserted), which
    * proportional rates (p01) can't. All integer arithmetic — the
    * remainders compare as scaled integers `(100·n) mod total`, never
    * doubles. After the per-language counts, ONE global aggregate
    * collects those rows (bounded by group cardinality, not data
    * volume) and array functions do the rest — no Window, so no
    * chain of single-partition window stages over a handful of rows. */
  val p16 = QueryDef(
    "p16_quota_sample",
    (sp, dir) => {
      val counts = Tables(sp, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      counts
        .agg(sum(col("n_docs")).as("total"),
          collect_list(struct(col("lang"), col("n_docs"))).as("c"))
        // (-rem, lang) sorts as (rem desc, lang): position = rank - 1
        .select(sort_array(expr("""transform(c, x -> named_struct(
          'neg_rem', -((100 * x.n_docs) % total), 'lang', x.lang,
          'n_docs', x.n_docs, 'base', (100 * x.n_docs) div total))"""))
          .as("r"))
        .select((lit(100L) - aggregate(col("r"), lit(0L),
            (acc, x) => acc + x("base"))).as("leftover"),
          posexplode(col("r")).as(Seq("i", "x")))
        .select(col("x.lang").as("lang"), col("x.n_docs").as("n_docs"),
          (col("x.base") + when(col("i") < col("leftover"), 1L)
            .otherwise(0L)).as("quota"))
        .orderBy("lang")
    },
    Some("""
      WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY lang),
      t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
      b AS (SELECT lang, n_docs,
              (100 * n_docs) // total AS base,
              (100 * n_docs) % total AS rem
            FROM c, t),
      r AS (SELECT lang, n_docs, base,
              ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk,
              100 - SUM(base) OVER () AS leftover
            FROM b)
      SELECT lang, n_docs,
        CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS quota
      FROM r ORDER BY lang"""))

  /** Token-budget mixture planner: given per-language available token
    * counts and a target sampling mixture (basis points), compute each
    * language's token quota inside a 1M-token training budget, its
    * repeat factor (quota / available — >1 means epochs of reuse,
    * the number data-mixing debates are about), and the whole-epoch
    * count a loader needs (ceil, in integers). Quotas are exact
    * integer arithmetic (budget·bp div 10⁴); only the repeat factor is
    * a single double division. One scan + one 5-row aggregate. */
  val p17 = QueryDef(
    "p17_token_mix",
    (sp, dir) => {
      val bp = when(col("lang") === "en", 4000L)
        .when(col("lang") === "de", 2000L)
        .when(col("lang") === "fr", 2000L)
        .when(col("lang") === "es", 1000L)
        .otherwise(1000L)
      Tables(sp, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(sum(col("n_tokens")).as("avail_tokens"))
        .withColumn("weight_bp", bp)
        .withColumn("quota_tokens",
          expr("(1000000 * weight_bp) div 10000"))
        .withColumn("repeat_factor",
          col("quota_tokens").cast("double") /
            col("avail_tokens").cast("double"))
        .withColumn("epochs",
          expr("(quota_tokens + avail_tokens - 1) div avail_tokens"))
        .orderBy("lang")
    },
    Some("""
      WITH a AS (
        SELECT lang,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        FROM documents GROUP BY lang),
      b AS (
        SELECT lang, avail_tokens,
          CAST(CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 2000
               WHEN 'fr' THEN 2000 WHEN 'es' THEN 1000
               ELSE 1000 END AS BIGINT) AS weight_bp
        FROM a)
      SELECT lang, avail_tokens, weight_bp,
        (1000000 * weight_bp) // 10000 AS quota_tokens,
        CAST((1000000 * weight_bp) // 10000 AS DOUBLE) / avail_tokens
          AS repeat_factor,
        (((1000000 * weight_bp) // 10000) + avail_tokens - 1)
          // avail_tokens AS epochs
      FROM b ORDER BY lang"""))

  /** Inter-annotator agreement (Cohen's kappa) — the label-quality
    * gate for curated training data: two deterministic synthetic
    * annotators (B disagrees on every fifth doc) produce a 3×3
    * contingency; observed agreement, chance agreement (from the
    * marginal products), and kappa = (p_o − p_e)/(1 − p_e) all derive
    * from EXACT integer counts, with the three double divisions
    * written identically on both engines. Scalars combine through the
    * derived-constant-key equi-join (q71's idiom). */
  val p18 = QueryDef(
    "p18_label_agreement",
    (sp, dir) => {
      val lab = Tables(sp, dir, "documents")
        .withColumn("a", pmod(col("doc_id") * 7 + length(col("lang")), lit(3L)))
        .withColumn("b", when(col("doc_id") % 5 === 0,
          pmod(col("a") + 1, lit(3L))).otherwise(col("a")))
      val tot = lab.agg(count(lit(1)).as("n"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
        .withColumn("__j", pmod(col("n"), lit(1L)))
      val ra = lab.groupBy(col("a").as("k")).agg(count(lit(1)).as("ra"))
      val cb = lab.groupBy(col("b").as("k")).agg(count(lit(1)).as("cb"))
      val pen = ra.join(cb, "k")
        .agg(sum(col("ra") * col("cb")).as("pe_num"))
        .withColumn("__j", pmod(col("pe_num"), lit(1L)))
      tot.join(broadcast(pen), "__j").drop("__j")
        .withColumn("po",
          col("agree").cast("double") / col("n").cast("double"))
        .withColumn("pe", col("pe_num").cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
        .withColumn("kappa",
          (col("po") - col("pe")) / (lit(1.0) - col("pe")))
        .select("n", "agree", "pe_num", "po", "pe", "kappa")
    },
    Some("""
      WITH lab AS (
        SELECT doc_id, (doc_id * 7 + length(lang)) % 3 AS a FROM documents),
      lab2 AS (
        SELECT doc_id, a,
          CASE WHEN doc_id % 5 = 0 THEN (a + 1) % 3 ELSE a END AS b
        FROM lab),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                  AS agree
              FROM lab2),
      ra AS (SELECT a AS k, CAST(COUNT(*) AS BIGINT) AS ra
             FROM lab2 GROUP BY a),
      cb AS (SELECT b AS k, CAST(COUNT(*) AS BIGINT) AS cb
             FROM lab2 GROUP BY b),
      pen AS (SELECT CAST(SUM(ra * cb) AS BIGINT) AS pe_num
              FROM ra JOIN cb USING (k)),
      x AS (SELECT n, agree, pe_num,
              CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
              CAST(pe_num AS DOUBLE) /
                (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
            FROM tot, pen)
      SELECT n, agree, pe_num, po, pe, (po - pe) / (1.0 - pe) AS kappa
      FROM x"""))

  /** Leakage-safe train/val/test split: p11's deterministic hash
    * split keyed on the near-dup CLUSTER representative (d06's
    * canonical id) instead of the raw doc id — near-duplicates land in
    * the SAME split by construction, closing the classic eval-leakage
    * hole where a test doc's near-copy sits in train. The
    * `clusters_spanning` column (clusters whose members straddle
    * splits) is the auditable guarantee: structurally 0 here, and the
    * oracle recomputes it from its own component chain. */
  val p19 = QueryDef(
    "p19_leakage_safe_split",
    (sp, dir) => {
      val canon = DedupQueries.canonicalDocs(sp, dir)
      val bucket = Pipeline.idHash(col("canonical_id")) % lit(1000L)
      val tagged = canon.withColumn("split",
        when(bucket < 800, "train").when(bucket < 900, "val")
          .otherwise("test"))
      val spanning = tagged.groupBy("canonical_id")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L))
          .as("clusters_spanning"))
        .withColumn("__j", pmod(col("clusters_spanning"), lit(1L)))
      tagged.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canonical_id")).as("n_clusters"))
        .withColumn("__j", pmod(col("n_docs"), lit(1L)))
        .join(broadcast(spanning), "__j").drop("__j")
        .orderBy("split")
    },
    Some(s"""
      WITH RECURSIVE ${DedupQueries.shingleHashSql},
      ${DedupQueries.componentsSql},
      canon AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS canonical
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
      tagged AS (SELECT doc_id, canonical,
          CASE WHEN (((canonical % 2147483647) * 1103515245 + 12345) % 2147483647) % 1000 < 800
                 THEN 'train'
               WHEN (((canonical % 2147483647) * 1103515245 + 12345) % 2147483647) % 1000 < 900
                 THEN 'val'
               ELSE 'test' END AS split
        FROM canon),
      span AS (SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS clusters_spanning
               FROM (SELECT canonical, COUNT(DISTINCT split) AS ns
                     FROM tagged GROUP BY canonical))
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_clusters,
        clusters_spanning
      FROM tagged, span GROUP BY split, clusters_spanning
      ORDER BY split"""))

  /** Corpus balance chi-square — "how far is the source mix from
    * uniform": per-source observed token counts against the uniform
    * expectation, each source's (obs − exp)²/exp contribution, and
    * the total χ² statistic every row carries (the one number a
    * rebalancing job alarms on). Counts are exact integers; exp and
    * the contributions are doubles computed by the identical formula
    * on both engines. Windows run over one row per source. */
  val p20 = QueryDef(
    "p20_balance_chi2",
    (sp, dir) => {
      val everything = Window.partitionBy(pmod(col("n_tokens"), lit(1L)))
      val counts = Tables(sp, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("source").agg(sum(col("toks")).as("n_tokens"))
      counts
        .withColumn("total", sum(col("n_tokens")).over(everything))
        .withColumn("n_sources", count(lit(1)).over(everything))
        .withColumn("expected", col("total").cast("double") /
          col("n_sources").cast("double"))
        .withColumn("contribution",
          (col("n_tokens").cast("double") - col("expected")) *
            (col("n_tokens").cast("double") - col("expected")) /
            col("expected"))
        // Σ of doubles is order-sensitive; round(6)→DECIMAL makes the
        // window sum associative (§4), then surfaces as double
        .withColumn("chi2", sum(round(col("contribution"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .over(everything).cast("double"))
        .select("source", "n_tokens", "expected", "contribution", "chi2")
        .orderBy("source")
    },
    Some("""
      WITH c AS (
        SELECT source,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      t AS (
        SELECT source, n_tokens,
          CAST(SUM(n_tokens) OVER () AS DOUBLE)
            / CAST(COUNT(*) OVER () AS DOUBLE) AS expected
        FROM c),
      x AS (
        SELECT source, n_tokens, expected,
          (CAST(n_tokens AS DOUBLE) - expected) *
            (CAST(n_tokens AS DOUBLE) - expected) / expected
            AS contribution
        FROM t)
      SELECT source, n_tokens, expected, contribution,
        CAST(SUM(CAST(ROUND(contribution, 6) AS DECIMAL(18,6))) OVER ()
          AS DOUBLE) AS chi2
      FROM x ORDER BY source"""))

  /** Temperature-scaled language mixture (α = 0.5): sampling weights
    * ∝ n_tokens^α flatten the head and lift the tail — the standard
    * multilingual rebalancing. α = 0.5 is deliberately the
    * SQRT-expressible point: sqrt is correctly-rounded IEEE (unlike
    * pow/exp, whose libm vs JVM results drift in the last ulp), so
    * the whole weight chain is engine-portable. The weight total
    * crosses the round(6)→DECIMAL guard before the shares divide. */
  val p21 = QueryDef(
    "p21_temperature_mix",
    (sp, dir) => {
      val everything = Window.partitionBy(pmod(col("n_tokens"), lit(1L)))
      Tables(sp, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("lang").agg(sum(col("toks")).as("n_tokens"))
        .withColumn("raw_share",
          col("n_tokens").cast("double") /
            sum(col("n_tokens")).over(everything).cast("double"))
        .withColumn("w", round(sqrt(col("n_tokens").cast("double")), 6))
        .withColumn("w_total",
          sum(col("w").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .over(everything).cast("double"))
        .withColumn("temp_share", col("w") / col("w_total"))
        .withColumn("quota_tokens",
          floor(lit(1000000.0) * col("temp_share")).cast("long"))
        .select("lang", "n_tokens", "raw_share", "temp_share",
          "quota_tokens")
        .orderBy("lang")
    },
    Some("""
      WITH c AS (
        SELECT lang,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang),
      t AS (
        SELECT lang, n_tokens,
          CAST(n_tokens AS DOUBLE)
            / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS raw_share,
          ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS w
        FROM c),
      x AS (
        SELECT lang, n_tokens, raw_share, w,
          CAST(SUM(CAST(w AS DECIMAL(18,6))) OVER () AS DOUBLE) AS w_total
        FROM t)
      SELECT lang, n_tokens, raw_share, w / w_total AS temp_share,
        CAST(floor(1000000.0 * (w / w_total)) AS BIGINT) AS quota_tokens
      FROM x ORDER BY lang"""))

  /** Shard balance audit over p02's deterministic shuffle: per-shard
    * doc counts plus (on every row) the max/min shard ratio — the
    * straggler predictor: a training job runs at the pace of its
    * fattest shard. Exact integers, one double division; the extrema
    * windows run over 8 shard rows. */
  val p22 = QueryDef(
    "p22_shard_balance",
    (sp, dir) => {
      val everything = Window.partitionBy(pmod(col("n_docs"), lit(1L)))
      Pipeline.deterministicShuffle(
          Tables(sp, dir, "documents"), "doc_id", shards = 8)
        .groupBy("shard").agg(count(lit(1)).as("n_docs"))
        .withColumn("share", col("n_docs").cast("double") /
          sum(col("n_docs")).over(everything).cast("double"))
        .withColumn("imbalance",
          max(col("n_docs")).over(everything).cast("double") /
            min(col("n_docs")).over(everything).cast("double"))
        .orderBy("shard")
    },
    Some(s"""
      WITH s AS (
        SELECT CAST(${hashSql(1103515245L, 12345L)} % 8 AS INT) AS shard
        FROM documents),
      c AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM s GROUP BY shard)
      SELECT shard, n_docs,
        CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE)
          AS share,
        CAST(MAX(n_docs) OVER () AS DOUBLE)
          / CAST(MIN(n_docs) OVER () AS DOUBLE) AS imbalance
      FROM c ORDER BY shard"""))

  /** Best-fit whole-doc packing ([[Pipeline.packBestFit]]) next to
    * p03's concat-and-chop: docs never straddle bins, each goes to the
    * tightest open bin that fits, open bins are a bounded look-back of
    * 4 (state O(4) per group at any corpus size). 256-token bins make
    * the choice real on this fixture (multi-bin sources, closes
    * exercised). The oracle REPLAYS the packer decision-for-decision
    * with a recursive CTE carrying the open-bin remainders as a list —
    * every assignment is hash-checked, not just bin counts.
    * PipelineSpec asserts the efficiency claim: ≤ next-fit's bin count
    * (the comparable no-split greedy; p03's fill can exceed 1.0 by
    * straddling, so it is not the comparator) on the same fixture. */
  val p23 = QueryDef(
    "p23_bestfit_packing",
    (sp, dir) => {
      val docs = Tables(sp, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Pipeline.packBestFit(docs, "source", "doc_id", "n_tokens",
          maxTokens = 256, maxOpenBins = 4)
        .select(col("g").as("source"), col("o").as("doc_id"),
          col("n").as("n_tokens"), col("bin_id"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE docs AS (
        SELECT source, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
          CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
            AS BIGINT) AS rn
        FROM documents),
      pack AS (
        SELECT source, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS doc_id,
          CAST(NULL AS BIGINT) AS n, CAST(0 AS BIGINT) AS lo,
          CAST([] AS BIGINT[]) AS rem, CAST(NULL AS BIGINT) AS bin_id
        FROM (SELECT DISTINCT source FROM docs)
        UNION ALL
        SELECT source, rn, doc_id, n,
          CASE WHEN len(rem1) > 4 THEN lo + 1 ELSE lo END AS lo,
          CASE WHEN len(rem1) > 4 THEN rem1[2:] ELSE rem1 END AS rem,
          bin1 AS bin_id
        FROM (
          SELECT *,
            CASE WHEN best IS NULL
                 THEN list_append(rem, greatest(256 - n, 0))
                 ELSE list_transform(range(1, len(rem) + 1),
                        i -> CASE WHEN i = CAST(best[2] AS BIGINT)
                             THEN rem[i] - n ELSE rem[i] END)
            END AS rem1,
            CASE WHEN best IS NULL THEN lo + len(rem)
                 ELSE lo + CAST(best[2] AS BIGINT) - 1 END AS bin1
          FROM (
            SELECT p.source, d.rn, d.doc_id, d.n, p.lo, p.rem,
              list_min(list_transform(
                list_filter(range(1, len(p.rem) + 1),
                  i -> p.rem[i] >= d.n),
                i -> [p.rem[i], CAST(i AS BIGINT)])) AS best
            FROM pack p JOIN docs d
              ON d.source = p.source AND d.rn = p.rn + 1)))
      SELECT source, doc_id, n AS n_tokens, bin_id
      FROM pack WHERE rn >= 1 ORDER BY doc_id"""))

  /** Weighted sampling without replacement — the Efraimidis–Spirakis
    * priority-sampling scheme (Inf. Proc. Letters 2006) a curation
    * pipeline uses to draw a size-k corpus slice where long documents
    * are proportionally more likely to be kept (weight = n_chars, the
    * token-count proxy) — [[Pipeline.prioritySample]]: per doc,
    * u = (idHash(doc_id)+1)/2^31 ∈ (0,1]
    * and the doc ranks by u^(1/w) — computed as the monotone-
    * equivalent log2(u)/w so no pow() enters the sort key — with the
    * top k=20 kept per source stratum. Distributed shape: the
    * rank-window cut is a map-side partial top-k per stratum
    * (InferWindowGroupLimit, the q07/q21 shape), i.e. each partition
    * keeps at most k candidates and merges keep k — this IS the
    * bounded-state mergeable weighted reservoir, O(k) per stratum at
    * any input size. Determinism: u is EXACT in binary64 (integer
    * +1 ≤ 2^31, then division by a power of two), log2 is the one
    * may-differ-in-last-ulp op (q104 concession) but it never reaches
    * the OUTPUT — only the ordering consumes it, ties broken by
    * doc_id, and a cross-engine ordering flip needs two keys within
    * ~1e-15 of each other. Zero-length docs pin weight to 1 so no
    * NaN/∞ enters the sort. */
  val p24 = QueryDef(
    "p24_priority_sample",
    (sp, dir) => {
      Pipeline.prioritySample(
          Tables(sp, dir, "documents")
            .select(col("source"), col("doc_id"), col("n_chars")),
          idCol = "doc_id", weightCol = "n_chars",
          strataCol = "source", k = 20)
        .select(col("source"), col("rank").cast("int").as("rank"),
          col("doc_id"), col("n_chars"))
        .orderBy("source", "rank")
    },
    Some(s"""
      WITH t AS (
        SELECT source, doc_id, n_chars,
          CAST(${hashSql(1103515245L, 12345L)} + 1 AS DOUBLE)
            / 2147483648.0 AS u
        FROM documents),
      k AS (SELECT source, doc_id, n_chars,
              log2(u) / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS k
            FROM t),
      r AS (SELECT source, doc_id, n_chars,
              ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY k DESC, doc_id) AS rank
            FROM k)
      SELECT source, CAST(rank AS INT) AS rank, doc_id, n_chars
      FROM r WHERE rank <= 20 ORDER BY source, rank"""))

  /** DuckDB mirror of the 62-bit hash over a string SQL expression
    * (the t06/d24 inline pattern, local copy for p25). */
  private def hash62Sql(s: String): String =
    s"""(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, CAST(len($s) AS INT)),
       |      i -> CAST(ascii(substr($s, i, 1)) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % 2147483647)
       |  + (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, CAST(len($s) AS INT)),
       |        i -> CAST(ascii(substr($s, i, 1)) AS BIGINT))),
       |      (a, b) -> (a * 131 + b) % 2147483647) << 31))""".stripMargin

  /** Data selection via importance ranking — the DSIR recipe (Xie et
    * al. 2023) in its deterministic form: hash every doc's unigram+
    * bigram features into a FIXED 65,536-bucket space, fit add-one-
    * smoothed bucket distributions for the TARGET slice (lang='en' —
    * the distribution you want more of) and the RAW corpus, score
    * each doc by its per-feature average log-likelihood ratio
    * Σ n_b·log2(P_t(b)/P_r(b)) / Σ n_b, and keep the top 5 per source
    * under that score — the docs most target-like regardless of where
    * they came from. Measured at sf0.1: the selection is 74%
    * target-language against a 41% corpus base rate (1.8×
    * enrichment on a synthetic corpus with heavy cross-language
    * vocabulary sharing).
    *
    * Scale shape — the t17 production variant REALIZED: because the
    * feature space is fixed at 64k buckets, both LM count tables are
    * broadcastable at ANY corpus size, so the scoring pass is
    * map-only (plan-audited); the rank cut is the map-side partial
    * top-k window (p24's shape). Determinism: the ratio is ONE log2
    * of one division of exact-integer products (cross-multiplied so
    * no intermediate quotient), the per-doc sum is the ORDERED
    * bucket-sorted fold (e35 rule), and ranking happens on the
    * ROUNDED score with doc_id tiebreak — rounded-equal docs order
    * identically on both engines. */
  val p25 = QueryDef(
    "p25_dsir_selection",
    (sp, dir) => {
      import graft.functions.ShingleHashes
      val docs = Tables(sp, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val feats = docs.select(col("doc_id"), col("lang"),
          explode(concat(ShingleHashes(col("text"), 1, dedupe = false),
            ShingleHashes(col("text"), 2, dedupe = false))).as("h"))
        .select(col("doc_id"), col("lang"),
          pmod(col("h"), lit(65536L)).as("b"))
      val raw = feats.groupBy("b").agg(count(lit(1)).as("c_r"))
      val tgt = feats.filter(col("lang") === "en")
        .groupBy("b").agg(count(lit(1)).as("c_t"))
      val lm = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("c_t"))
      val totals = lm.agg(sum("c_r").as("t_r"), sum("c_t").as("t_t"))
        .withColumn("j", pmod(col("t_r"), lit(1L)))
      val cells = feats.groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
      val scored = cells.join(broadcast(lm), "b")
        .groupBy("doc_id")
        .agg(sum("n").as("n_feats"),
          array_sort(collect_list(struct(col("b"), col("n"), col("c_t"),
            col("c_r")))).as("cells"))
        .withColumn("j", pmod(col("doc_id"), lit(1L)))
        .join(broadcast(totals), Seq("j"))
        .withColumn("sum_ll", aggregate(col("cells"), lit(0.0), (acc, x) =>
          acc + x.getField("n").cast("double") * log2(
            ((x.getField("c_t") + lit(1L)) * (col("t_r") + lit(65536L)))
              .cast("double") /
            ((x.getField("c_r") + lit(1L)) * (col("t_t") + lit(65536L)))
              .cast("double"))))
        .withColumn("score", round(col("sum_ll") / col("n_feats"), 4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("score").desc, col("doc_id"))
      docs.select("doc_id", "source")
        .join(scored.select("doc_id", "n_feats", "score"), "doc_id")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank").cast("int").as("rank"),
          col("doc_id"), col("n_feats"), col("score"))
        .orderBy("source", "rank")
    },
    Some {
      val uniH = hash62Sql("z")
      val biH = hash62Sql("z")
      s"""
      WITH toks AS (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                    FROM documents),
      uni AS (SELECT doc_id, lang, unnest(w) AS z FROM toks),
      f1 AS (SELECT doc_id, lang, ($uniH) % 65536 AS b FROM uni),
      bi AS (SELECT doc_id, lang, unnest(CASE WHEN len(w) < 2 THEN []
               ELSE list_transform(generate_series(1, CAST(len(w) - 1 AS INT)),
                      i -> w[i] || ' ' || w[i+1]) END) AS z
             FROM toks),
      f2 AS (SELECT doc_id, lang, ($biH) % 65536 AS b FROM bi),
      feats AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2),
      raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r FROM feats GROUP BY 1),
      tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_t FROM feats
              WHERE lang = 'en' GROUP BY 1),
      lm AS (SELECT r.b, r.c_r, COALESCE(t.c_t, 0) AS c_t
             FROM raw r LEFT JOIN tgt t USING (b)),
      totals AS (SELECT CAST(SUM(c_r) AS BIGINT) AS t_r,
                   CAST(SUM(c_t) AS BIGINT) AS t_t FROM lm),
      cells AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n
                FROM feats GROUP BY 1, 2),
      terms AS (SELECT c.doc_id, c.b, c.n, l.c_t, l.c_r
                FROM cells c JOIN lm l USING (b)),
      folded AS (
        SELECT t.doc_id, CAST(SUM(t.n) AS BIGINT) AS n_feats,
          list_reduce(list_prepend(0.0,
            list(CAST(t.n AS DOUBLE) *
                   log2(CAST((t.c_t + 1) * (v.t_r + 65536) AS DOUBLE) /
                        CAST((t.c_r + 1) * (v.t_t + 65536) AS DOUBLE))
                 ORDER BY t.b)),
            (a, b) -> a + b) AS sum_ll
        FROM terms t CROSS JOIN totals v GROUP BY 1),
      scored AS (SELECT doc_id, n_feats,
                   ROUND(sum_ll / n_feats, 4) AS score FROM folded),
      ranked AS (
        SELECT d.source, s.doc_id, s.n_feats, s.score,
          ROW_NUMBER() OVER (PARTITION BY d.source
            ORDER BY s.score DESC, s.doc_id) AS rank
        FROM scored s JOIN documents d USING (doc_id))
      SELECT source, CAST(rank AS INT) AS rank, doc_id, n_feats, score
      FROM ranked WHERE rank <= 5
      ORDER BY source, rank"""
    })

  val defs: Seq[QueryDef] =
    Seq(p01, p02, p03, p04, p05, p06, p07, p08, p09, p10, p11, p12, p13,
      p14, p15, p16, p17, p18, p19, p20, p21, p22, p23, p24, p25)
}
