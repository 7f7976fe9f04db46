package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.{Commit, Generations, Tables}
import graft.streaming.StreamingQueries.eachBatch

/** Text-analysis operators for LLM-data pipelines over the `documents`
  * table: tokenization stats, quality scoring, n-gram language-ID heuristic,
  * BPE-ish regex token counting, rolling-hash fingerprinting.
  *
  * Everything is expressed with codegen'd builtins + higher-order array
  * functions (no Scala UDFs), so plans stay whole-stage-codegen and
  * pushdown-eligible — at 100 TB these run as a single scan + project with
  * no shuffle.
  */
object TextAnalysis {

  /** Whitespace tokens; single-space-separated corpus so `\s+` is exact in
    * both Spark (Java regex) and the DuckDB oracle (RE2).
    */
  private val toks = "split(text, '\\\\s+')"

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  // -------------------------------------------------------------------------
  // Per-document stats + quality score
  // -------------------------------------------------------------------------

  /** Length/punct/stopword-ratio quality metrics. All ratios are
    * exact-integer divisions done in double, so they hash-match the oracle
    * bit-for-bit.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("doc_id", "lang", "n_chars", s"$toks AS toks") // tokenize once
      .selectExpr(
        "doc_id", "lang", "n_chars",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct",
        "aggregate(transform(toks, t -> length(t)), 0L, (a, x) -> a + x) AS token_chars",
        "CAST(size(filter(toks, t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stop")
      .selectExpr(
        "doc_id", "lang", "n_chars", "n_tokens", "n_distinct",
        "CAST(token_chars AS DOUBLE) / n_tokens AS avg_token_len",
        "CAST(n_distinct AS DOUBLE) / n_tokens AS ttr",
        "CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio",
        // composite quality score: favors mid-length docs with diverse tokens
        """CAST(n_distinct AS DOUBLE) / n_tokens * 0.5
           + CAST(n_stop AS DOUBLE) / n_tokens * 0.3
           + CAST(least(n_chars, 400) AS DOUBLE) / 400 * 0.2 AS quality_score""")
      .orderBy("doc_id")

  val textStatsOracle: String =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars,
      |    len(string_split_regex(text, '\s+')) AS n_tokens,
      |    len(list_distinct(string_split_regex(text, '\s+'))) AS n_distinct,
      |    list_sum(list_transform(string_split_regex(text, '\s+'), t -> length(t))) AS token_chars,
      |    len(list_filter(string_split_regex(text, '\s+'),
      |        t -> t IN ('the','a','and','of','to','in','is'))) AS n_stop
      |  FROM documents
      |)
      |SELECT doc_id, lang, n_chars, n_tokens, n_distinct,
      |  CAST(token_chars AS DOUBLE) / n_tokens AS avg_token_len,
      |  CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
      |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |  CAST(n_distinct AS DOUBLE) / n_tokens * 0.5
      |    + CAST(n_stop AS DOUBLE) / n_tokens * 0.3
      |    + CAST(least(n_chars, 400) AS DOUBLE) / 400 * 0.2 AS quality_score
      |FROM t
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Language-ID heuristic (stopword-list scoring)
  // -------------------------------------------------------------------------

  private val langLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "fr" -> Seq("le", "la", "et", "de", "un", "une", "est"),
    "es" -> Seq("el", "los", "y", "de", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist"))

  /** Stopword-count language scoring with a deterministic priority
    * tie-break (en > fr > es > de). The synthetic corpus shares one
    * vocabulary across langs, so accuracy is meaningless — the operator
    * and its plan shape are what's exercised.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scores = langLists.map { case (l, ws) =>
      s"CAST(size(filter(toks, t -> t IN (${ws.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS s_$l"
    }
    docs(spark, dir)
      .selectExpr("doc_id", "lang", s"$toks AS toks")
      .selectExpr(Seq("doc_id", "lang") ++ scores: _*)
      .selectExpr("doc_id", "lang", "s_en", "s_fr", "s_es", "s_de",
        """CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
           WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
           WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang""")
      .withColumn("is_match", col("pred_lang") === col("lang"))
      .orderBy("doc_id")
  }

  val langIdOracle: String = {
    val scores = langLists.map { case (l, ws) =>
      s"len(list_filter(string_split_regex(text, '\\s+'), t -> t IN (${ws.map("'" + _ + "'").mkString(",")}))) AS s_$l"
    }.mkString(",\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    $scores
       |  FROM documents
       |)
       |SELECT doc_id, lang, s_en, s_fr, s_es, s_de,
       |  CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
       |       WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
       |       WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang,
       |  (CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
       |       WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
       |       WHEN s_es >= s_de THEN 'es' ELSE 'de' END) = lang AS is_match
       |FROM t
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // BPE-ish regex token counting
  // -------------------------------------------------------------------------

  /** Token counts under a BPE-ish lexer regex (letter runs | digit runs |
    * single punctuation). Pattern restricted to constructs with identical
    * semantics in Java regex and RE2.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).selectExpr(
        "doc_id",
        "CAST(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) AS BIGINT) AS n_bpe_tokens",
        s"CAST(size($toks) AS BIGINT) AS n_ws_tokens",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .orderBy("doc_id")

  val tokenCountOracle: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
      |  len(string_split_regex(text, '\s+')) AS n_ws_tokens,
      |  length(text) AS n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Rolling-hash document fingerprint
  // -------------------------------------------------------------------------

  /** Polynomial rolling hash over the character stream:
    * h = fold(chars)(h * 31 + code) mod 1e9+7 — a cheap order-sensitive
    * fingerprint (same family as Rabin-Karp). Pure codegen'd higher-order
    * functions; no UDF.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.FastFunctions.rolling_hash(col("text")).as("fingerprint"),
        md5(col("text")).as("md5_hex"))
      .orderBy("doc_id")

  val fingerprintOracle: String =
    """SELECT doc_id,
      |  CASE WHEN length(text) = 0 THEN 0 ELSE
      |    list_reduce(list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
      |      (h, c) -> (h * 31 + c) % 1000000007) END AS fingerprint,
      |  md5(text) AS md5_hex
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // PII detection + redaction
  // -------------------------------------------------------------------------

  // Patterns restricted to the Java-regex/RE2 common subset (no
  // backreferences, no lookaround), like tokenCount's BPE regex, so Spark
  // and DuckDB match and replace identically.
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val UrlRe = "https?://[^ ]+"
  private[graft] val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Sentinel PII probe docs unioned into the scrub input on BOTH the
    * Spark and oracle sides. The synthetic corpus contains no `@`/URL/phone
    * strings, so without these the email branch of the regexes is never
    * exercised by the hash-compare (a divergence like the round-3
    * `\\.`-unescaping bug stays invisible). Probe 9000004 is the exact
    * adversarial case that bug got wrong: with `\.` collapsed to a bare-dot
    * wildcard, `bob@example,com` counts as an email. No single quotes in
    * the text (it is interpolated into the oracle SQL literal).
    */
  private[graft] val piiProbes: Seq[(Long, String)] = Seq(
    9000001L -> "Contact alice.smith@example.com or bob_jones+spam@mail.example.org today",
    9000002L -> "See https://example.org/data?id=42 and http://test.net/path for details",
    9000003L -> "Call 555-123-4567 or 800-555-0199 now",
    9000004L -> "Not an email: bob@example,com plus 12-345-6789 plus ftp://x.y end")

  /** PII scrub pass: per doc, counts of email/URL/phone-shaped spans and
    * the md5 of the redacted text (spans replaced by type tags) — the
    * privacy gate of a training-data pipeline. Pure codegen'd regex
    * columns, one corpus scan, no UDF; the hash pins the exact redaction
    * output without shipping full text through the compare.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probes = piiProbes.toDF("doc_id", "text")
    piiScrubDf(docs(spark, dir).select("doc_id", "text").union(probes))
  }

  /** Core scrub over any `(doc_id, text)` frame. Patterns are passed as
    * Column literals (`lit(pattern)`), NOT interpolated into a
    * `selectExpr` string: a SQL string literal undergoes one round of
    * backslash unescaping in Spark's parser, which silently turns the
    * email pattern's `\.` into a bare-dot wildcard (round-3 wrong-answer
    * bug). `lit` hands the Scala string to the regex engine verbatim.
    */
  def piiScrubDf(d: DataFrame): DataFrame = {
    val redacted = regexp_replace(regexp_replace(regexp_replace(col("text"),
      lit(EmailRe), lit("<EMAIL>")), lit(UrlRe), lit("<URL>")), lit(PhoneRe), lit("<PHONE>"))
    d.select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  val piiScrubOracle: String = {
    val probeSql = piiProbes.map { case (id, t) =>
      s"SELECT CAST($id AS BIGINT) AS doc_id, '$t' AS text"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL $probeSql
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$UrlRe')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g'), '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
       |FROM corpus
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Within-document repetition
  // -------------------------------------------------------------------------

  /** Intra-document repetition: duplicated sentences inside one doc (the
    * boilerplate/templating signal exact inter-doc dedup cannot see).
    * Array functions on the split — no explode, no shuffle, pure map.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("doc_id", "split(text, '\\\\. ') AS sents")
      .selectExpr("doc_id",
        "CAST(size(sents) AS BIGINT) AS n_sents",
        "CAST(size(array_distinct(sents)) AS BIGINT) AS n_distinct_sents")
      .selectExpr("doc_id", "n_sents", "n_distinct_sents",
        "CAST(n_sents - n_distinct_sents AS DOUBLE) / n_sents AS dup_ratio")
      .orderBy("doc_id")

  val repetitionOracle: String =
    """SELECT doc_id, n_sents, n_distinct_sents,
      |  CAST(n_sents - n_distinct_sents AS DOUBLE) / n_sents AS dup_ratio
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, '. ')) AS BIGINT) AS n_sents,
      |    CAST(len(list_distinct(string_split(text, '. '))) AS BIGINT) AS n_distinct_sents
      |  FROM documents
      |)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // TF-IDF top terms
  // -------------------------------------------------------------------------

  /** Top-3 terms per document by tf-idf. The score is the log-free rational
    * form tf * N / df (one IEEE double division — log() differs in the last
    * ulp between libm implementations, so it is banished from the
    * hash-compared surface); ties break on the token string.
    *
    * Scale shape: the corpus is read once. tf is one shuffle on (doc,
    * token) with map-side partial counts; df and the corpus size are
    * derived from those groups (df one shuffle on token); the per-doc
    * top-3 is a bounded row_number window partitioned by doc_id —
    * millions of independent partitions, no global sort.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    // every document row also yields one ' ' token, which split on ' '
    // never does, so those groups count the rows: n_docs is count(*),
    // null and empty text included. The corpus is read once because all
    // three consumers of `tf` keep the same (doc, token) aggregate: each
    // reads both `tf` and `sentinel` (so neither is pruned from it) and
    // filters `token IS NOT NULL` as the join does
    val tf = docs(spark, dir)
      .selectExpr("doc_id", "explode(concat(array(' '), " +
        "coalesce(split(text, ' '), array()))) AS token")
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max(col("token") === " ").as("sentinel"))
    val dfreq = tf.groupBy("token").agg(count(when(!col("sentinel"), col("tf"))).as("df"))
    val n = tf.filter(col("token").isNotNull)
      .agg(sum(when(col("sentinel"), col("tf"))).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("token").asc)
    tf.filter(!col("sentinel")).join(dfreq, "token")
      .crossJoin(n) // 1-row broadcast: the corpus size constant
      .withColumn("score", expr("CAST(tf * n_docs AS DOUBLE) / df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "token", "tf", "df", "score")
      .orderBy("doc_id", "rk")
  }

  val tfidfOracle: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, rk, token, tf, df, score FROM (
      |  SELECT doc_id, token, tf, df,
      |    CAST(tf * n_docs AS DOUBLE) / df AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC, token) AS rk
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN n
      |)
      |WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  // -------------------------------------------------------------------------
  // Vocabulary construction (tokenizer-training corpus statistics)
  // -------------------------------------------------------------------------

  /** Vocabulary entries emitted (the top of the frequency table) — sized
    * BELOW the test corpus' distinct-token count so the truncation path is
    * actually exercised (at 100 real scale this is 32k-ish).
    */
  val VocabSize = 20

  /** VOCABULARY BUILD — the corpus statistic a tokenizer is trained from:
    * the [[VocabSize]] most frequent tokens with term frequency, document
    * frequency, and CUMULATIVE CORPUS COVERAGE (what share of all token
    * occurrences the vocab up to this rank explains — the curve that
    * decides vocab size). Ties break on the token string, so the table is
    * fully deterministic.
    *
    * Scale shape: tf/df is one shuffle on token with map-side partials;
    * the top-N is a TakeOrdered (per-partition heads, no global sort);
    * only the N SURVIVORS flow into the single-partition cumulative
    * window, so the serial step is O(VocabSize), not O(corpus). The
    * total-occurrence count rides alongside as a 1-row broadcast.
    */
  def vocabBuild(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("token"))
    val counts = docs(spark, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS token")
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
    val total = counts.agg(sum("tf").cast("long").as("total_tf"))
    counts.orderBy(col("tf").desc, col("token")).limit(VocabSize)
      .crossJoin(total) // 1-row broadcast: the corpus-occurrence constant
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tf", sum("tf").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .selectExpr("rank", "token", "tf", "df",
        "CAST(cum_tf AS DOUBLE) / total_tf AS coverage")
      .orderBy("rank")
  }

  /** Probe docs for [[normalizedDedup]]: the corpus has no case/whitespace
    * variants of the same text, so without them the collapse branch is
    * dead and the hash match vacuous. 9200001/9200002/9200003 normalize
    * to the same string; 9200004 differs in a real token.
    */
  private[graft] val normProbes: Seq[(Long, String)] = Seq(
    9200001L -> "Hello   World  FOO bar",
    9200002L -> "hello world foo bar",
    9200003L -> " HELLO\tworld  Foo  BAR ",
    9200004L -> "hello world foo baz")

  /** NORMALIZATION-AWARE EXACT DEDUP — exact dedup after canonicalizing
    * case and whitespace (the cheap first pass every pipeline runs before
    * fuzzy dedup: trailing spaces, tabs, and casing are not "different
    * documents"). Normal form: whitespace runs → one space, trim, ASCII
    * lowercase. Emits the normal-form md5, the collapse-group size, and
    * the canonical flag (min doc_id wins). Map-only normalization + one
    * hash-partition window — same scale shape as plain exact dedup.
    */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("norm_md5")
    docs(spark, dir).select("doc_id", "text")
      .union(normProbes.toDF("doc_id", "text"))
      .selectExpr("doc_id",
        // explicit whitespace class, NOT \s: Java regex \s includes \x0B
        // (vertical tab) but RE2's (DuckDB's) does not — the classes must
        // be spelled identically in both engines or a \x0B-bearing doc
        // silently diverges from the oracle
        "md5(lower(trim(regexp_replace(text, '[ \\\\t\\\\n\\\\r\\\\f\\\\x0B]+', ' ')))) AS norm_md5")
      .withColumn("n_variants", count(lit(1)).over(w))
      .withColumn("is_canonical", col("doc_id") === min("doc_id").over(w))
      .orderBy("doc_id")
  }

  val normalizedDedupOracle: String = {
    // raw control chars (the probe tab) embed directly in the SQL string
    // literal; Verify's JSON escaping covers transport to the driver
    val probeSql = normProbes.map { case (id, t) =>
      s"SELECT CAST($id AS BIGINT) AS doc_id, '$t' AS text"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL $probeSql
       |),
       |norm AS (
       |  SELECT doc_id,
       |    md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))) AS norm_md5
       |  FROM corpus
       |)
       |SELECT doc_id, norm_md5,
       |  CAST(count(*) OVER (PARTITION BY norm_md5) AS BIGINT) AS n_variants,
       |  doc_id = min(doc_id) OVER (PARTITION BY norm_md5) AS is_canonical
       |FROM norm ORDER BY doc_id""".stripMargin
  }

  /** Boilerplate bar: a shingle is source-boilerplate when it appears in
    * >= [[BoilerMinDocs]] docs AND >= 5% of its source's docs (integer
    * cross-multiply — exact on both engines).
    */
  val BoilerMinDocs = 2

  /** CORPUS-BOILERPLATE DETECTION — per document, how much of it is made
    * of 3-gram shingles shared across a large fraction of the SAME
    * source's documents (site headers/footers, license blurbs, template
    * chrome — the CCNet/RefinedWeb-style cleaning signal). Distinct from
    * the dedup family: substring/minhash find spans duplicated between
    * doc PAIRS; this finds spans common to a source's population, which
    * pairwise dedup deliberately keeps. Emits per doc its shingle count,
    * boilerplate-shingle count, and the ratio downstream cleaners
    * threshold on.
    *
    * Scale shape: shingle work runs on distinct-per-doc shingles
    * (vocabulary-bounded, the tf-idf discipline); the boilerplate set is
    * found with one (source, shingle) count + a broadcast of the tiny
    * per-source doc totals; membership back onto the shingle stream is a
    * LEFT SEMI join (duplicate-safe); per-doc counts combine map-side.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "source")
    val sh = Dedup.shingles(spark, dir).join(d, "doc_id")
    val boiler = boilerSetFrom(d, sh)
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val perBoiler = sh.join(boiler, Seq("source", "shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    d.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .join(perBoiler, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(n_shingles, 0L) AS n_shingles",
        "coalesce(n_boiler, 0L) AS n_boiler",
        """CASE WHEN coalesce(n_shingles, 0L) = 0 THEN CAST(0.0 AS DOUBLE)
          |  ELSE CAST(coalesce(n_boiler, 0L) AS DOUBLE) / n_shingles
          |END AS boiler_ratio""".stripMargin)
      .orderBy("doc_id")
  }

  /** The per-source boilerplate shingle set — the SINGLE definition the
    * detector and the scrub share ([[BoilerMinDocs]] + the 5% integer
    * cross-multiply bar). `d` is (doc_id, source); `sh` the distinct
    * per-doc shingles joined with source.
    */
  private def boilerSetFrom(d: DataFrame, sh: DataFrame): DataFrame = {
    val nDocs = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    sh.groupBy("source", "shingle").agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs), "source")
      .filter(col("df") >= BoilerMinDocs && col("df") * 20 >= col("n_docs"))
      .select("source", "shingle")
  }

  /** BOILERPLATE SCRUB — the REWRITE step the detector's signal feeds
    * (the CCNet-style cleaner): every token covered by an occurrence of a
    * source-boilerplate 3-gram shingle is cut, and the cleaned text is
    * re-joined in token order — detect→scrub symmetry with the substring
    * family ([[graft.operators.Dedup.substringScrub]]). Output carries
    * counts plus md5 of the cleaned text; non-boilerplate docs survive
    * byte-exact (pinned by spec).
    *
    * Scale shape: the boilerplate set is the detector's (population-level
    * df + broadcast totals); occurrences come from ONE positional shingle
    * explode of the tokenized docs, membership is a LEFT SEMI join, and
    * the cut reuses the substring family's coverage tail (covered
    * positions collapse to one array per affected doc before touching the
    * token stream).
    */
  def boilerplateScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "source")
    val boiler = boilerSetFrom(d, Dedup.shingles(spark, dir).join(d, "doc_id"))
    val toksDf = docs(spark, dir)
      .selectExpr("doc_id", "source", "split(text, ' ') AS toks")
    val occ = toksDf
      .selectExpr("doc_id", "source",
        """explode(CASE WHEN size(toks) >= 3
             THEN transform(sequence(1, size(toks) - 2),
               i -> struct(i - 1 AS pos, concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]) AS shingle))
             ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, shingle: STRING>>) END) AS ps""")
      .select(col("doc_id"), col("source"), col("ps.pos").as("i"), col("ps.shingle").as("shingle"))
      .join(boiler, Seq("source", "shingle"), "left_semi")
      .select("doc_id", "i")
    Dedup.scrubWithCoverage(toksDf.select("doc_id", "toks"), occ, w = 3)
  }

  val boilerplateScrubOracle: String =
    s"""WITH src AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, source, unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |    FOR i IN range(1, greatest(len(toks) - 1, 1))])) AS shingle
       |  FROM src
       |),
       |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM src GROUP BY 1),
       |df AS (SELECT source, shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1, 2),
       |boiler AS (
       |  SELECT df.source, df.shingle FROM df JOIN nd USING (source)
       |  WHERE df >= ${BoilerMinDocs} AND df * 20 >= n_docs
       |),
       |pos_sh AS (
       |  SELECT doc_id, source, unnest(
       |    CASE WHEN len(toks) >= 3
       |      THEN list_transform(range(1, len(toks) - 1),
       |        i -> {'i': i - 1, 'sh': toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]})
       |      ELSE [] END) AS u
       |  FROM src
       |),
       |occ AS (
       |  SELECT p.doc_id, p.u.i AS i FROM pos_sh p
       |  SEMI JOIN boiler b ON p.source = b.source AND p.u.sh = b.shingle
       |),
       |covered AS (SELECT DISTINCT doc_id, unnest(range(i, i + 3)) AS pos FROM occ),
       |tok_rows AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, u.tok AS tok FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
       |      i -> {'i': i, 'tok': toks[i]})) AS u
       |    FROM src
       |  )
       |),
       |kept AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
       |  FROM tok_rows t ANTI JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
       |  GROUP BY t.doc_id
       |)
       |SELECT s.doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  coalesce(n_kept, 0) AS n_kept,
       |  CAST(len(toks) AS BIGINT) - coalesce(n_kept, 0) AS n_dropped,
       |  md5(coalesce(clean_text, '')) AS clean_md5
       |FROM src s LEFT JOIN kept USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin

  val boilerplateOracle: String =
    s"""WITH ${Dedup.shinglesCte},
       |src AS (SELECT doc_id, source FROM documents),
       |sh AS (SELECT s.doc_id, s.shingle, d.source FROM shingles s JOIN src d USING (doc_id)),
       |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM src GROUP BY 1),
       |df AS (SELECT source, shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1, 2),
       |boiler AS (
       |  SELECT df.source, df.shingle FROM df JOIN nd USING (source)
       |  WHERE df >= ${BoilerMinDocs} AND df * 20 >= n_docs
       |),
       |per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1),
       |per_boiler AS (
       |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_boiler
       |  FROM sh SEMI JOIN boiler ON sh.source = boiler.source AND sh.shingle = boiler.shingle
       |  GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  coalesce(n_shingles, 0) AS n_shingles,
       |  coalesce(n_boiler, 0) AS n_boiler,
       |  CASE WHEN coalesce(n_shingles, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       |    ELSE CAST(coalesce(n_boiler, 0) AS DOUBLE) / n_shingles
       |  END AS boiler_ratio
       |FROM src d
       |LEFT JOIN per_doc USING (doc_id)
       |LEFT JOIN per_boiler USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** VOCABULARY APPLICATION / OOV RATE — score every document by how much
    * of it a fixed top-[[VocabSize]] vocabulary covers (the "will my
    * tokenizer shred this doc into unknowns" check run before training;
    * high OOV = foreign-language, code, or garbage relative to the
    * vocab). The vocabulary is the same top-N-by-tf table
    * [[vocabBuild]] emits; membership is a BROADCAST join (the vocab is
    * bounded by construction — VocabSize rows — so the per-token probe
    * never shuffles the exploded token stream; the only shuffle is the
    * per-doc re-aggregation with map-side combine).
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS token")
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(VocabSize)
      .select(col("token"), lit(1).as("iv"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .selectExpr("doc_id", "n_tokens", "n_oov",
        "CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate")
      .orderBy("doc_id")
  }

  val oovRateOracle: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |vocab AS (
       |  SELECT token FROM (SELECT token, count(*) AS tf FROM toks GROUP BY 1)
       |  ORDER BY tf DESC, token LIMIT $VocabSize
       |)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
       |  CAST(count(*) FILTER (WHERE v.token IS NULL) AS DOUBLE) / count(*) AS oov_rate
       |FROM toks t LEFT JOIN vocab v USING (token)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  val vocabBuildOracle: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |counts AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS tf,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM toks GROUP BY token
       |),
       |total AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tf FROM counts),
       |top AS (SELECT token, tf, df FROM counts ORDER BY tf DESC, token LIMIT $VocabSize)
       |SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank,
       |  token, tf, df,
       |  CAST(CAST(sum(tf) OVER (ORDER BY tf DESC, token
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
       |    / total_tf AS coverage
       |FROM top CROSS JOIN total
       |ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------------
  // BPE merge learning (distributed, over the word-frequency table)
  // -------------------------------------------------------------------------

  /** Number of merge rounds learned by [[bpeLearn]]. The fixture vocab
    * (31 distinct alpha words, ≤8 chars) supports ~100+ merges before
    * pair depletion; 8 keeps the unrolled oracle readable.
    */
  val BpeMerges = 8

  /** DISTRIBUTED BPE MERGE LEARNING — the train-the-tokenizer step
    * [[vocabBuild]] (frequency vocab) and `txt_token_count` (apply a
    * BPE-ish regex) bracket but neither learns. Classic Sennrich BPE:
    * start from characters, repeatedly merge the most frequent adjacent
    * symbol pair; the merge list IS the tokenizer model.
    *
    * The 100 TB shape is the classic trick: learning runs over the
    * WORD-FREQUENCY table, not the corpus — one corpus-wide shuffle
    * compresses everything to vocab scale, after which each round is a
    * pair-count aggregation over that small table plus a 1-row argmax to
    * the driver (a model parameter, exactly like the k-means centroid
    * pull). [[bpeLearnBatched]] is the web-scale variant: it batches the
    * top-k non-interfering merges per round to cut round count while
    * provably learning the identical merge list; one merge per round
    * here keeps parity with the reference algorithm.
    *
    * Cross-engine exactness: a word's segmentation is a delimited string
    * — every symbol wrapped as `|sym|`, so the pair (a,b) occurs iff
    * `|a||b|` occurs as a substring, and applying the merge is
    * `replace(s, '|a||b|', '|ab|')`. Both engines' `replace` scans
    * leftmost non-overlapping, which is EXACTLY greedy BPE application
    * ([a,a,a] -> [aa,a]); counts are BIGINT sums and the argmax
    * tie-break is (count DESC, pair ASC), so every round is
    * deterministic in both engines.
    */
  /** The word-frequency table with each word pre-segmented to characters
    * — the ONE corpus-scale shuffle the whole BPE family pays.
    */
  private def bpeWordFreqs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("explode(split(text, ' ')) AS word")
      // alpha-only guard: '|' is the segmentation delimiter and must not
      // occur inside a symbol
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .selectExpr("freq", "regexp_replace(word, '(.)', '|$1|') AS s")

  /** Adjacent-pair counts over a (freq, s) segmentation table, ranked by
    * the deterministic (count DESC, pair ASC) argmax order.
    */
  private def bpePairCounts(it: DataFrame): DataFrame =
    it.selectExpr("freq", "split(trim(BOTH '|' FROM s), '\\\\|\\\\|') AS syms")
      .filter("size(syms) >= 2")
      .selectExpr("freq",
        "explode(transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i-1] AS l, syms[i] AS r))) AS pr")
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("l"), col("r"))

  def bpeLearn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = bpeWordFreqs(spark, dir).cache()
    var it = words.select("freq", "s")
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (i <- 1 to BpeMerges) {
      val best = bpePairCounts(it).limit(1).collect()
      if (best.nonEmpty) {
        val (l, r, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((i.toLong, l, r, c))
        it = it.selectExpr("freq", s"replace(s, '|$l||$r|', '|$l$r|') AS s")
      }
    }
    words.unpersist()
    val learned = merges.result()
    // pair depletion before BpeMerges would silently zero out the unrolled
    // oracle's cross-joined m$i levels — fail loudly at the source instead
    require(learned.size == BpeMerges,
      s"BPE pair depletion: learned ${learned.size} of $BpeMerges merges; " +
        "shrink BpeMerges or grow the corpus")
    learned.toDF("merge_rank", "left_sym", "right_sym", "pair_cnt")
      .orderBy("merge_rank")
  }

  /** Merges accepted per batched round, see [[bpeLearnBatched]]. */
  val BpeBatchK = 4

  /** BATCHED BPE LEARNING — the web-scale round-count cut the sequential
    * scaladoc promises. Per round, ONE pair-count aggregation is pulled
    * to the driver (top `k`+1 rows only) and a provably-safe batch of
    * merges is applied in one pass, so a 30k-merge tokenizer costs
    * O(30k/k) Spark jobs instead of 30k.
    *
    * The batch rule guarantees the merge list EQUALS sequential
    * [[bpeLearn]]'s — always, not just on a lucky fixture: accept the
    * longest PREFIX of the (cnt DESC, l, r)-ranked pair list that is
    * pairwise symbol-disjoint (a self-pair (a,a) closes the batch after
    * itself), then shrink it until the last accepted count strictly
    * exceeds the best rejected count. Why that is sufficient: applying
    * accepted merge j can only (a) leave pairs disjoint from it
    * unchanged — so accepted merges j+1..m keep their exact counts,
    * (b) decrease pairs sharing a symbol — all ranked below the prefix,
    * hence ≤ the best rejected count, and (c) create pairs containing a
    * merged symbol, each of whose occurrences crosses a merge boundary
    * and therefore was counted under some symbol-sharing original pair —
    * for l≠r that original is necessarily rejected (an accepted pair
    * can't share its symbols), hence ≤ best-rejected; for l=r the bound
    * is the self-pair's own count, which is why it must close the batch.
    * With the strict-excess truncation every later accepted pair strictly
    * dominates all of (b) and (c), so the sequential argmax at step j is
    * exactly accepted pair j, tie-break included.
    */
  def bpeLearnBatched(spark: SparkSession, dir: String, k: Int = BpeBatchK): DataFrame =
    bpeLearnBatchedRounds(spark, dir, k)._1

  /** [[bpeLearnBatched]] exposing the number of rounds actually run —
    * the spec pins rounds < merges to prove batching is non-vacuous.
    */
  def bpeLearnBatchedRounds(spark: SparkSession, dir: String, k: Int = BpeBatchK): (DataFrame, Int) =
    bpeLearnBatchedN(spark, dir, BpeMerges, k)

  /** [[bpeLearnBatchedRounds]] at an arbitrary merge count — the gated
    * query stays at [[BpeMerges]] (the oracle unrolls CTE levels, so its
    * depth is fixed), while `tools.BpeScale` drives this at a realistic
    * vocabulary (64+ merges, width ≥ 16) to measure that wall-time grows
    * with ROUNDS (≈ merges / accepted-batch width), not merges — the
    * driver-sequencing bound the scaladoc on [[bpeLearnBatched]] claims.
    */
  def bpeLearnBatchedN(spark: SparkSession, dir: String, nMerges: Int,
      k: Int): (DataFrame, Int) = {
    import spark.implicits._
    val words = bpeWordFreqs(spark, dir).cache()
    var it = words.select("freq", "s")
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var learned = 0
    var rounds = 0
    var depleted = false
    while (learned < nMerges && !depleted) {
      val want = math.min(k, nMerges - learned)
      val top = bpePairCounts(it).limit(want + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) depleted = true
      else {
        rounds += 1
        // longest pairwise-disjoint prefix, capped at `want`; a SELF-pair
        // (a,a) ends the batch after itself — its merge creates pairs
        // (aa,a)/(a,aa)/(aa,aa) bounded only by its OWN count, so nothing
        // committed after it could be defended against them
        val used = scala.collection.mutable.Set.empty[String]
        val buf = Vector.newBuilder[(String, String, Long)]
        var open = true
        top.take(want).foreach { case (l, r, c) =>
          if (open && !used(l) && !used(r)) {
            buf += ((l, r, c)); used += l; used += r
            if (l == r) open = false
          } else open = false
        }
        var batch = buf.result()
        // strict-excess truncation: the last accepted count must beat the
        // best pair left behind (rank batch.size is the first non-accepted)
        while (batch.size >= 2 && top.size > batch.size &&
            batch.last._3 <= top(batch.size)._3)
          batch = batch.init
        batch.foreach { case (l, r, c) =>
          learned += 1
          merges += ((learned.toLong, l, r, c))
        }
        val seg = batch.foldLeft("s") { case (acc, (l, r, _)) =>
          s"replace($acc, '|$l||$r|', '|$l$r|')"
        }
        it = it.selectExpr("freq", s"$seg AS s")
      }
    }
    words.unpersist()
    val out = merges.result()
    require(out.size == nMerges,
      s"BPE pair depletion: learned ${out.size} of $nMerges merges")
    (out.toDF("merge_rank", "left_sym", "right_sym", "pair_cnt")
      .orderBy("merge_rank"), rounds)
  }

  /** The oracle unrolls the same [[BpeMerges]] rounds as CTE levels —
    * pair counts, 1-row argmax, merge application — generated by the
    * same loop shape the Spark side runs.
    */
  val bpeLearnOracle: String = {
    val ctes = Seq.newBuilder[String]
    ctes += """it0 AS (
      |  SELECT count(*) AS freq,
      |    regexp_replace(word, '(.)', '|\1|', 'g') AS s
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word ~ '^[a-z]+$' GROUP BY word
      |)""".stripMargin
    for (i <- 1 to BpeMerges) {
      val p = i - 1
      ctes += s"""pc$i AS (
        |  SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT freq, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS pr
        |    FROM (SELECT freq, string_split(trim(s, '|'), '||') AS syms FROM it$p)
        |  ) GROUP BY 1, 2
        |)""".stripMargin
      ctes += s"""m$i AS (
        |  SELECT $i AS merge_rank, l, r, cnt FROM pc$i
        |  ORDER BY cnt DESC, l, r LIMIT 1
        |)""".stripMargin
      ctes += s"""it$i AS (
        |  SELECT freq, replace(s, '|' || l || '||' || r || '|', '|' || l || r || '|') AS s
        |  FROM it$p, m$i
        |)""".stripMargin
    }
    val union = (1 to BpeMerges).map(i =>
      s"SELECT CAST(merge_rank AS BIGINT) AS merge_rank, l AS left_sym, " +
        s"r AS right_sym, cnt AS pair_cnt FROM m$i").mkString("\nUNION ALL\n")
    "WITH " + ctes.result().mkString(",\n") + "\n" + union + "\nORDER BY merge_rank"
  }

  /** APPLY the learned BPE model to the corpus — [[bpeLearn]]'s other
    * half (the detect->scrub symmetry of the tokenizer family): every
    * document's alpha words are segmented by replaying the merge list in
    * rank order, and the per-doc token accounting (words, chars, BPE
    * tokens) is emitted — the sizing pass a packing/chunking stage runs
    * before sequence assembly.
    *
    * Scale shape: the learned merges are 8 literal pairs COMPILED INTO
    * THE PLAN — the scoring pass is scan + project (a chain of 8
    * codegen'd `replace` calls), no shuffle, no join, no broadcast; the
    * corpus never moves. This entry learns inline for the oracle row;
    * the production path is [[persistBpeModel]] + [[bpeApplyAgainst]]
    * (`txt_bpe_apply_indexed`), which pays training once per model,
    * exactly like [[graft.operators.Clustering]]'s fit/apply split.
    */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeLearn(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeSegmentCounts(spark, dir, merges)
  }

  /** The apply plan shared by the inline and persisted-model paths:
    * per-doc token accounting with the merge list baked in as literal
    * `replace` calls.
    */
  private def bpeSegmentCounts(spark: SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    val seg = merges.foldLeft("regexp_replace(word, '(.)', '|$1|')") {
      case (acc, (l, r)) => s"replace($acc, '|$l||$r|', '|$l$r|')"
    }
    docs(spark, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .filter(col("word").rlike("^[a-z]+$"))
      .selectExpr("doc_id", "word",
        s"size(split(trim(BOTH '|' FROM $seg), '\\\\|\\\\|')) AS n_syms")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_alpha_chars"),
        sum("n_syms").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** The session table [[bpeApplyIndexed]] persists the model under. */
  val BpeModelTable = "graft_bpe_model"

  /** Persist the learned merge list — the BPE family's FIT/APPLY seam
    * (the tokenizer-model analogue of
    * [[graft.operators.Clustering.persistCentroids]]). Training is paid
    * once per (source, model) pair: a rebuild is skipped when the stored
    * table already carries this source dir in its `graft.src` property,
    * so every later apply — batch or streaming — compiles the stored
    * merges into a scan+project plan without re-running a single
    * learning round. At a real merge count (30k+) this is the difference
    * between 0 and 30k Spark jobs per apply.
    */
  def persistBpeModel(spark: SparkSession, dir: String, table: String = BpeModelTable): Unit =
    graft.core.ModelTables.persistIfStale(spark, dir, table, s"bpe.v1;merges=$BpeMerges") {
      bpeLearn(spark, dir).write.mode("overwrite").saveAsTable(table)
    }

  /** Apply against a persisted model: the merge list (8 rows — a model
    * parameter, bounded by construction) is the ONLY thing pulled to the
    * driver; the corpus-side plan is identical to [[bpeApply]]'s scan +
    * project + per-doc aggregate, with zero learning jobs.
    */
  def bpeApplyAgainst(spark: SparkSession, dir: String, table: String): DataFrame = {
    // rank order matters (merges chain); sort the 8 rows driver-side so
    // the pull is ONE collect job, not a sample+shuffle sort
    val merges = spark.table(table)
      .select("merge_rank", "left_sym", "right_sym").collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeSegmentCounts(spark, dir, merges)
  }

  /** The gated fit-once/apply-many entry: persist (or reuse) the model
    * table, then apply against it. Same result as [[bpeApply]] — the
    * oracle is shared — but amortized across invocations.
    */
  def bpeApplyIndexed(spark: SparkSession, dir: String): DataFrame = {
    persistBpeModel(spark, dir)
    bpeApplyAgainst(spark, dir, BpeModelTable)
  }

  /** The oracle reuses [[bpeLearnOracle]]'s CTE chain for the model and
    * applies the same nested-replace segmentation per word.
    */
  val bpeApplyOracle: String = {
    val learnWith = bpeLearnOracle.substring(0, bpeLearnOracle.indexOf("\nSELECT CAST(merge_rank"))
    val seg = (1 to BpeMerges).foldLeft("regexp_replace(word, '(.)', '|\\1|', 'g')") {
      case (acc, i) =>
        s"replace($acc, '|' || m$i.l || '||' || m$i.r || '|', '|' || m$i.l || m$i.r || '|')"
    }
    val learnCtes = learnWith.stripPrefix("WITH ").trim.stripSuffix(",")
    s"""WITH $learnCtes,
       |dw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |),
       |segged AS (
       |  SELECT doc_id, word,
       |    len(string_split(trim($seg, '|'), '||')) AS n_syms
       |  FROM dw, ${(1 to BpeMerges).map("m" + _).mkString(", ")}
       |  WHERE word ~ '^[a-z]+$$'
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(word)) AS BIGINT) AS n_alpha_chars,
       |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
       |FROM segged GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Trained bigram language model + perplexity scoring (CCNet-style filter)
  // -------------------------------------------------------------------------

  /** The reference-corpus slice the LM is FIT on. Perplexity filtering's
    * whole premise (CCNet, Gopher/MassiveText) is an asymmetry: train a
    * small LM on a trusted reference corpus, score the raw crawl against
    * it, keep what the reference model finds unsurprising. One source
    * plays the reference here; everything is scored.
    */
  val LmTrainSource = "src0"

  /** LM vocabulary size — top tokens of the TRAINING slice by frequency.
    * Deliberately below the corpus' distinct-token count (31 in the
    * fixture) so the `<unk>` path is really exercised: out-of-vocab
    * tokens in scored documents map to `<unk>` and meet bigram counts
    * that only add-1 smoothing covers.
    */
  val LmVocabSize = 20

  val LmVocabTable = "graft_lm_vocab"
  val LmModelTable = "graft_lm_model"
  val LmCtxTable = "graft_lm_ctx"

  /** Hyperparameters are part of the staleness key: changing the train
    * slice, vocab cap, smoothing, or quantization refits instead of
    * silently reusing an incompatible model.
    */
  private val LmFingerprint =
    s"lm.v1;bigram;laplace=1;vocab=$LmVocabSize;train=$LmTrainSource;lscale=1e6"

  /** Integer-quantized natural log — micro-nats, the same cross-engine
    * determinism trick as the NB weights (Pipeline.L): ln is only ever
    * applied to an INTEGER argument and immediately rounded to a BIGINT,
    * so per-bigram costs sum order-independently and engine-exactly.
    */
  private def lnMicro(e: String) = s"CAST(round(ln($e) * 1000000.0) AS BIGINT)"

  /** Map a doc's tokens into the model's event space and prepend the BOS
    * context: `<s> m1 m2 …` where `m_i = token if in-vocab else '<unk>'`.
    * The vocab is inlined as an array literal — a MODEL-PARAMETER pull,
    * the same discipline as the k-means `centroidExpr` and the BPE merge
    * list: ≤[[LmVocabSize]] strings ride the plan, never a join, and the
    * whole doc → bigram pipeline stays a single codegen'd projection.
    * `array_contains` is O(V) per token, so past
    * [[LmVocabJoinThreshold]] the dispatch in [[lmMapped]] switches to
    * the broadcast hash probe of [[lmMappedViaJoin]] instead.
    */
  private def lmMapExpr(vocab: Seq[String]): String = {
    val lit = vocab
      .map(t => "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'")
      .mkString("array(", ", ", ")")
    "concat(array('<s>'), transform(split(text, ' '), " +
      s"t -> CASE WHEN array_contains($lit, t) THEN t ELSE '<unk>' END))"
  }

  /** Vocab size above which the token→event mapping leaves the inlined
    * CASE literal for the broadcast join: a 32k-term array literal makes
    * every task pay an O(V) linear scan PER TOKEN (and bloats the
    * serialized plan), while a broadcast hash join probes in O(1). At
    * the gated V=20 the literal wins (no re-collect shuffle), so the
    * threshold sits where the linear scan starts to bite; the two paths
    * are proven bit-for-bit equal by spec at V=20, so flipping the
    * constant is a pure plan-shape decision.
    */
  private[graft] val LmVocabJoinThreshold = 1024

  /** The vocab-scale token→event mapping: posexplode each doc's tokens,
    * broadcast-LEFT-join the vocabulary on token (O(1) hash probe per
    * token instead of the literal's O(V) array scan), map misses to
    * `<unk>`, re-collect per doc in position order, prepend BOS. Costs
    * one doc_id-keyed shuffle (the re-collect) that the literal path
    * avoids — the price of not shipping a 32k-term literal through every
    * task — and the vocabulary broadcast is V strings, the same payload
    * the literal would have carried in the plan itself.
    */
  private[graft] def lmMappedViaJoin(d: DataFrame, vocab: Seq[String]): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val v = vocab.toDF("token").withColumn("in_vocab", lit(true))
    d.selectExpr("doc_id", "source", "posexplode(split(text, ' ')) AS (pos, token)")
      .join(broadcast(v), Seq("token"), "left")
      .selectExpr("doc_id", "source", "pos",
        "CASE WHEN in_vocab THEN token ELSE '<unk>' END AS mt")
      .groupBy("doc_id", "source")
      .agg(concat(array(lit("<s>")),
        expr("transform(array_sort(collect_list(struct(pos, mt))), p -> p.mt)")).as("m"))
  }

  /** Token→event mapping dispatch: the codegen'd CASE literal below the
    * threshold, the broadcast join above it. Both yield the same
    * (doc_id, source, m) frame; `forceJoin` lets the equality spec pin
    * the join path at the gated V=20.
    */
  private[graft] def lmMapped(d: DataFrame, vocab: Seq[String],
      forceJoin: Boolean = false): DataFrame =
    if (forceJoin || vocab.length > LmVocabJoinThreshold) lmMappedViaJoin(d, vocab)
    else d.selectExpr("doc_id", "source", s"${lmMapExpr(vocab)} AS m")

  /** One row per bigram occurrence (l = context, r = predicted token),
    * including the (BOS, first-token) pair — n_bigrams = n_tokens, so
    * the per-doc average is over every token position.
    */
  private def lmBigrams(d: DataFrame, vocab: Seq[String]): DataFrame =
    lmBigramsFrom(lmMapped(d, vocab))

  private[graft] def lmBigramsFrom(mapped: DataFrame): DataFrame =
    mapped
      .selectExpr("doc_id", "source",
        "explode(transform(sequence(1, size(m) - 1), " +
          "i -> struct(m[i-1] AS l, m[i] AS r))) AS pr")
      .select(col("doc_id"), col("source"),
        col("pr.l").as("l"), col("pr.r").as("r"))

  /** The training-slice frequency vocab (top-[[LmVocabSize]], ties on
    * the token string — the [[oovRate]] vocab discipline).
    */
  private def lmVocabDf(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(col("source") === LmTrainSource)
      .selectExpr("explode(split(text, ' ')) AS token")
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(LmVocabSize)
      .select("token", "tf")

  /** Bigram counts over the mapped training slice — the trained model.
    * The mapped alphabet caps this table at (V+2)² rows regardless of
    * corpus size: ONE vocab-bounded shuffle is the entire fit.
    */
  private def lmModelDf(spark: SparkSession, dir: String,
      vocab: Seq[String]): DataFrame =
    lmBigrams(docs(spark, dir).filter(col("source") === LmTrainSource), vocab)
      .groupBy("l", "r").agg(count(lit(1)).as("cnt"))

  /** Context totals n_l = Σ_r cnt(l, r), derived from the model table
    * (vocab-scale input, no second corpus pass).
    */
  private def lmCtxDf(model: DataFrame): DataFrame =
    model.groupBy("l").agg(sum("cnt").as("n_l"))

  /** Persist the trained LM — vocab, bigram counts, and context totals
    * as ONE group ([[graft.core.ModelTables.persistGroupIfStale]]): the
    * three tables bake in the same fit-time corpus snapshot, so a
    * failure mid-group must rebuild all of them, never pair fresh counts
    * with a stale vocab. Training cost (one corpus scan + vocab-bounded
    * shuffle) is paid once per (source dir, hyperparams).
    */
  def persistLmModel(spark: SparkSession, dir: String,
      vocabTable: String = LmVocabTable, modelTable: String = LmModelTable,
      ctxTable: String = LmCtxTable): Unit = {
    lazy val vocab = lmVocabDf(spark, dir).collect().map(_.getString(0)).toSeq
    // cache shared by the model and ctx writes of one refit, released
    // DETERMINISTICALLY after the group write (a bare lazy cached val
    // leaked one cached frame per refit to the GC-timed cleaner)
    var cachedModel: DataFrame = null
    def model: DataFrame = {
      if (cachedModel == null) cachedModel = lmModelDf(spark, dir, vocab).cache()
      cachedModel
    }
    try graft.core.ModelTables.persistGroupIfStale(spark, dir, LmFingerprint)(
      vocabTable -> (() =>
        lmVocabDf(spark, dir).write.mode("overwrite").saveAsTable(vocabTable)),
      modelTable -> (() =>
        model.write.mode("overwrite").saveAsTable(modelTable)),
      ctxTable -> (() =>
        lmCtxDf(model).write.mode("overwrite").saveAsTable(ctxTable)))
    finally if (cachedModel != null) { cachedModel.unpersist(); () }
  }

  /** Per-document negative log-likelihood under the trained bigram LM
    * with add-1 smoothing over the B = V+1 event space (vocab ∪ <unk>;
    * BOS is a context, never predicted):
    *
    *   nll(bigram l→r) = L(n_l + B) − L(cnt(l,r) + 1)   [micro-nats]
    *
    * Unseen bigrams and unseen contexts coalesce to 0 — exactly the
    * uniform 1/B smoothing mass. `avg_nll` (micro-nats/token) IS
    * log-perplexity ×1e6; the monotone exp is left to the consumer so
    * every emitted number stays engine-exact.
    *
    * Scale shape: scoring is one scan → codegen'd map/explode →
    * broadcast left-joins against the vocab-bounded model ((V+2)² cap
    * here; at a web-scale vocabulary where observed bigrams outgrow a
    * broadcast, the same plan runs as a shuffle equi-join on (l, r)) →
    * one per-doc aggregation. No corpus self-join anywhere.
    */
  def perplexityAgainst(spark: SparkSession, dir: String,
      vocabTable: String = LmVocabTable, modelTable: String = LmModelTable,
      ctxTable: String = LmCtxTable): DataFrame =
    lmScoreAgainst(docs(spark, dir), vocabTable, modelTable, ctxTable)

  /** [[lmScoreDocs]] against the persisted model tables — the batch path
    * and every stream micro-batch alike.
    */
  private def lmScoreAgainst(d: DataFrame, vocabTable: String,
      modelTable: String, ctxTable: String): DataFrame = {
    val s = d.sparkSession
    // model-parameter pull: V strings + V² counts live in catalog tables;
    // only the vocab literal (for the token→event mapping) is collected
    val vocab = s.table(vocabTable)
      .orderBy("token").collect().map(_.getString(0)).toSeq
    lmScoreDocs(d, vocab, s.table(modelTable).select("l", "r", "cnt"),
      s.table(ctxTable).select("l", "n_l"))
  }

  /** The fit-inline form — the spec's fit/apply-equality reference. */
  private[graft] def perplexityInline(spark: SparkSession,
      dir: String): DataFrame = {
    val vocab = lmVocabDf(spark, dir).collect().map(_.getString(0)).toSeq
    val model = lmModelDf(spark, dir, vocab)
    lmScoreDocs(docs(spark, dir), vocab, model, lmCtxDf(model))
  }

  /** The scoring plan over an arbitrary (doc_id, source, text) frame —
    * shared by the batch paths and the per-micro-batch stream scorer.
    */
  private def lmScoreDocs(d: DataFrame, vocab: Seq[String],
      model: DataFrame, ctx: DataFrame): DataFrame = {
    val b = vocab.length + 1 // event space: vocab ∪ <unk>
    lmBigrams(d, vocab)
      .join(broadcast(model), Seq("l", "r"), "left")
      .join(broadcast(ctx), Seq("l"), "left")
      .selectExpr("doc_id", "source",
        s"${lnMicro(s"coalesce(n_l, 0L) + $b")} - " +
          s"${lnMicro("coalesce(cnt, 0L) + 1")} AS nll")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("nll_micro"))
      .selectExpr("doc_id", "source", "n_bigrams", "nll_micro",
        "CAST(nll_micro AS DOUBLE) / n_bigrams AS avg_nll")
      .orderBy("doc_id")
  }

  // ---- incremental fit: raw sufficient statistics + final fold ----

  /** Raw per-batch bigram counts — BOS included, NO vocab mapping. The
    * LM's sufficient statistics are additive in these: mapping tokens to
    * the event space and THEN counting equals counting raw and mapping
    * at the end (the map is per-token deterministic, so re-keying a
    * count table re-aggregates exactly). That associativity is what
    * makes the fit INCREMENTAL — batches append their raw partials and
    * nothing ever refits — and it would break if the stats were stored
    * post-mapping, because the capped vocab is itself a corpus aggregate
    * that isn't known until the end.
    */
  /** BOS sentinel in the RAW (pre-mapping) space: contains a space, so
    * no token from split(text, ' ') can collide with it. The batch path
    * maps corpus tokens FIRST and prepends its '<s>' BOS after, so a
    * literal '<s>' token in text goes through the vocab CASE like any
    * other; storing raw partials with a plain '<s>' marker would
    * conflate the two and break the fold's bit-for-bit batch parity.
    * [[lmModelFromRaw]] re-keys the sentinel to the batch BOS symbol.
    */
  private val LmRawBos = "<s> "

  private[graft] def lmRawBigramCounts(d: DataFrame): DataFrame =
    d.selectExpr(s"concat(array('$LmRawBos'), split(text, ' ')) AS m")
      .selectExpr("explode(transform(sequence(1, size(m) - 1), " +
        "i -> struct(m[i-1] AS l, m[i] AS r))) AS pr")
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(count(lit(1)).as("cnt"))

  /** Raw per-batch token frequencies (the vocab's sufficient statistic). */
  private[graft] def lmRawTokenCounts(d: DataFrame): DataFrame =
    d.selectExpr("explode(split(text, ' ')) AS token")
      .groupBy("token").agg(count(lit(1)).as("tf"))

  /** Fold accumulated raw partials into the mapped model: derive the
    * final vocab from the summed token counts, re-key the raw bigram
    * table through the event-space map, re-aggregate. The fold's inputs
    * are count tables (observed-vocabulary scale), never the corpus.
    */
  private[graft] def lmModelFromRaw(bi: DataFrame, toks: DataFrame): DataFrame = {
    val vocab = toks.groupBy("token").agg(sum("tf").as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(LmVocabSize)
      .collect().map(_.getString(0)).toSeq
    val lit = vocab
      .map(t => "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'")
      .mkString("array(", ", ", ")")
    def mapped(c: String) =
      s"CASE WHEN $c = '$LmRawBos' THEN '<s>' " + // BOS sentinel -> batch BOS
        s"WHEN array_contains($lit, $c) THEN $c ELSE '<unk>' END"
    bi.selectExpr(s"${mapped("l")} AS l", s"${mapped("r")} AS r", "cnt")
      .groupBy("l", "r").agg(sum("cnt").as("cnt"))
  }

  /** Incremental fit as a stream: every micro-batch of training docs
    * APPENDS its raw count partials via `sink` (the gate writes them to
    * an append-only parquet lake — the honest 100 TB shape: map-side
    * partials per batch, one vocabulary-scale fold at the end, the
    * corpus never re-read).
    */
  def lmFitStream(trainDocs: DataFrame)(
      sink: (Long, DataFrame, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    // not on eachBatch: the sink needs the batch id, which eachBatch drops
    trainDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // the batchId rides along so the sink can make its writes
        // IDEMPOTENT (foreachBatch is at-least-once: a retried batch
        // must overwrite its own partial generation, never append twice)
        if (!batch.isEmpty) sink(id, lmRawBigramCounts(batch), lmRawTokenCounts(batch))
      }
      .start()

  /** Stream-scoring against the FROZEN LM — the production inference
    * pattern: the model never refits inside the stream; each micro-batch
    * of arriving documents is scored with the same broadcast-probe plan
    * as the batch path ([[lmScoreDocs]]). Scoring is per-doc (no
    * cross-batch state), so the union of batch outputs equals the batch
    * score table for any chunking that keeps docs whole. The ≤V-row
    * vocab pull per batch is a model-parameter read of a catalog table —
    * at a 32k vocab, memoize it against the table's stamp instead.
    */
  def perplexityStream(newDocs: DataFrame, vocabTable: String = LmVocabTable,
      modelTable: String = LmModelTable, ctxTable: String = LmCtxTable)(
      sink: DataFrame => Unit): StreamingQuery =
    eachBatch(newDocs)(b => sink(lmScoreAgainst(b, vocabTable, modelTable, ctxTable)))

  /** Gated entry: fit (no-op when current) + dump the bigram table. The
    * model IS the deliverable here — (l, r, cnt) fully ordered; vocab
    * bounding keeps the dump ≤(V+2)² rows at any corpus size.
    */
  def lmTrain(spark: SparkSession, dir: String): DataFrame = {
    persistLmModel(spark, dir)
    spark.table(LmModelTable).select("l", "r", "cnt").orderBy("l", "r")
  }

  /** Gated entry: score every document against the persisted LM. */
  def perplexity(spark: SparkSession, dir: String): DataFrame = {
    persistLmModel(spark, dir)
    perplexityAgainst(spark, dir)
  }

  /** CCNet-style perplexity FILTER: keep documents the reference LM
    * finds no more surprising than the corpus average. The threshold is
    * relative (corpus-mean micro-nats/token, an exact BIGINT/BIGINT
    * division in both engines), so the operator is scale-free — no
    * magic constant to retune per corpus. The 1-row global aggregate
    * rides a broadcast cross-join, the same shape as [[tfidf]]'s n_docs.
    */
  def pplFilter(spark: SparkSession, dir: String): DataFrame = {
    persistLmModel(spark, dir)
    // The threshold is an aggregate OF the scores: compute it FIRST as a
    // driver scalar (1 row), then run one filtering scan with the scalar
    // inlined — two corpus-scale passes, ZERO pinned cache. The earlier
    // persist()-based single-scan variant never unpersisted its per-doc
    // frame, leaving release to the GC-timed ContextCleaner — the same
    // nondeterministic-release class as the dead state-store providers
    // this round evicted from the gates; two explicit passes cost about
    // the cached frame's write+read and release deterministically.
    val scored = perplexityAgainst(spark, dir)
    val avg = scored
      .agg((sum("nll_micro").cast("double") / sum("n_bigrams")).as("corpus_avg"))
      .collect()(0).getDouble(0)
    scored.withColumn("corpus_avg", lit(avg))
      .filter(col("avg_nll") <= col("corpus_avg"))
      .select("doc_id", "source", "avg_nll", "corpus_avg")
      .orderBy("doc_id")
  }

  private val lmOracleCtes: String =
    s"""train_toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS token
       |  FROM documents WHERE source = '$LmTrainSource'
       |),
       |vocab AS (
       |  SELECT token FROM (SELECT token, count(*) AS tf FROM train_toks GROUP BY 1)
       |  ORDER BY tf DESC, token LIMIT $LmVocabSize
       |),
       |vl AS (SELECT list(token) AS v, count(*) + 1 AS b FROM vocab),
       |mapped AS (
       |  SELECT doc_id, source, list_prepend('<s>',
       |    [CASE WHEN list_contains(v, t) THEN t ELSE '<unk>' END
       |     FOR t IN string_split(text, ' ')]) AS m
       |  FROM documents CROSS JOIN vl
       |),
       |bi_all AS (
       |  SELECT doc_id, source, u.l AS l, u.r AS r FROM (
       |    SELECT doc_id, source,
       |      unnest([{'l': m[i], 'r': m[i+1]} FOR i IN range(1, len(m))]) AS u
       |    FROM mapped
       |  )
       |),
       |model AS (
       |  SELECT l, r, CAST(count(*) AS BIGINT) AS cnt FROM bi_all
       |  WHERE source = '$LmTrainSource' GROUP BY 1, 2
       |),
       |ctx AS (SELECT l, CAST(sum(cnt) AS BIGINT) AS n_l FROM model GROUP BY 1)""".stripMargin

  private val lmScoredCtes: String =
    s"""$lmOracleCtes,
       |scored AS (
       |  SELECT doc_id, source,
       |    CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(CAST(round(ln(coalesce(n_l, 0) + b) * 1000000.0) AS BIGINT)
       |           - CAST(round(ln(coalesce(cnt, 0) + 1) * 1000000.0) AS BIGINT))
       |      AS BIGINT) AS nll_micro
       |  FROM bi_all LEFT JOIN model USING (l, r) LEFT JOIN ctx USING (l)
       |  CROSS JOIN vl
       |  GROUP BY 1, 2
       |)""".stripMargin

  val lmTrainOracle: String =
    s"""WITH $lmOracleCtes
       |SELECT l, r, cnt FROM model ORDER BY l, r""".stripMargin

  val perplexityOracle: String =
    s"""WITH $lmScoredCtes
       |SELECT doc_id, source, n_bigrams, nll_micro,
       |  CAST(nll_micro AS DOUBLE) / n_bigrams AS avg_nll
       |FROM scored ORDER BY doc_id""".stripMargin

  val pplFilterOracle: String =
    s"""WITH $lmScoredCtes,
       |tot AS (
       |  SELECT CAST(sum(nll_micro) AS DOUBLE) / sum(n_bigrams) AS corpus_avg
       |  FROM scored
       |)
       |SELECT doc_id, source,
       |  CAST(nll_micro AS DOUBLE) / n_bigrams AS avg_nll, corpus_avg
       |FROM scored CROSS JOIN tot
       |WHERE CAST(nll_micro AS DOUBLE) / n_bigrams <= corpus_avg
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // BM25 full-text search (the query side of the document store)
  // -------------------------------------------------------------------------

  /** Results per query. */
  val Bm25TopK = 10

  /** Every `Bm25QueryStride`-th document seeds a query from its first
    * `Bm25QueryTerms` tokens (as a SET — slice-then-distinct is order-free,
    * so both engines derive the same term set).
    */
  private[graft] val Bm25QueryStride = 37
  private val Bm25QueryTerms = 4

  /** Okapi parameters k1 = 5/4 and b = 3/4: inside the standard tuning
    * range AND exact binary64 fractions, so the saturation term is a pure
    * rational expression both engines round identically (every constant
    * below — 2.25 = k1+1, 0.3125 = k1·(1−b), 0.9375 = k1·b — is exactly
    * representable).
    */
  private val bm25SatExpr =
    "(CAST(tf AS DOUBLE) * 2.25) / (CAST(tf AS DOUBLE) + 0.3125 + " +
      "0.9375 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"

  /** Robertson idf in integer MICRO-nats — the perplexity family's
    * discipline for using `ln` across engines: apply the log once to
    * integer-derived operands, round to 1e-6 immediately, and do all later
    * arithmetic on exact integers/doubles. The sub-ulp spread between
    * JVM and C `ln` dies in the micro rounding. idf CAN be negative (a
    * term in more than half the corpus); round() is half-away-from-zero in
    * both engines.
    */
  private val bm25IdfMicroExpr =
    "CAST(round(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / " +
      "(CAST(df AS DOUBLE) + 0.5)) * 1000000.0) AS BIGINT)"

  /** Per-(query, doc, term) partial in integer micro-units: idf_micro (a
    * bigint ≤ ~1e7·ln N) times the exact-rational saturation (≤ k1+1), so
    * the double product stays far under 2^53 and floor() is deterministic;
    * per-doc scores then SUM AS INTEGERS — aggregation-order-free, the
    * property that makes the score hashable across engines.
    */
  private val bm25MicroExpr =
    s"CAST(floor(CAST($bm25IdfMicroExpr AS DOUBLE) * $bm25SatExpr) AS BIGINT)"

  /** BM25 TOP-K SEARCH — the retrieval half of the document-store story
    * (the network upsert sink writes docs to a search store; this operator
    * IS that store's query side, expressed as one declarative plan).
    *
    * Scale shape: the query-term SET is broadcast into the exploded token
    * stream, so the tf shuffle is proportional to occurrences of SEARCHED
    * terms, not the corpus vocabulary; document frequency is derived from
    * those survivors (df of searched terms only — never a corpus-wide
    * distinct); doc length rides the explode as one extra long per row
    * (no corpus-scale doc_id join); corpus constants (N, Σdl) are a 1-row
    * broadcast. The final ranking is the bounded [[graft.functions.TopK]]
    * aggregate — O(queries × k) shuffle rows, no global sort.
    */
  private[graft] def bm25Corpus(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).selectExpr("doc_id", s"$toks AS tk")

  private[graft] def bm25QueriesOf(d: DataFrame): DataFrame =
    seededQueries(d, col("doc_id") % Bm25QueryStride === 0)

  /** The standard query set of a corpus dir. */
  private[graft] def bm25Queries(spark: SparkSession, dir: String): DataFrame =
    bm25QueriesOf(bm25Corpus(spark, dir))

  /** Each `seed` doc's first query terms as (query_id, token) rows. */
  private def seededQueries(d: DataFrame, seed: Column): DataFrame =
    d.filter(seed).selectExpr("doc_id AS query_id",
      s"explode(array_distinct(slice(tk, 1, $Bm25QueryTerms))) AS token")

  /** (token, doc_id, tf, dl) rows of a (doc_id, tk) frame, the tokens cut
    * by `keep` BEFORE the (token, doc) shuffle.
    */
  private def termFreqs(d: DataFrame, keep: DataFrame => DataFrame = identity): DataFrame =
    keep(d.selectExpr("doc_id", "CAST(size(tk) AS BIGINT) AS dl", "explode(tk) AS token"))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))

  private def docFreqs(post: DataFrame): DataFrame =
    post.groupBy("token").agg(count(lit(1)).cast("bigint").as("df"))

  private def corpusStats(d: DataFrame): DataFrame =
    d.agg(count(lit(1)).cast("bigint").as("n_docs"),
      sum(expr("size(tk)")).cast("bigint").as("sum_dl"))

  /** df and stats REBUILT from postings as single generations. */
  private def derived(post: DataFrame): (DataFrame, DataFrame) =
    (docFreqs(post), post.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("dl").cast("bigint").as("sum_dl")))

  /** The one BM25 scoring plan, summed per (query, doc) in integer
    * micro-units; each caller's broadcast hints ride on `queries`/`dfreq`.
    */
  private def score(tf: DataFrame, queries: DataFrame, dfreq: DataFrame,
      stats: DataFrame): DataFrame =
    tf.join(queries, "token")
      .join(dfreq, "token")
      .crossJoin(broadcast(stats))
      .selectExpr("query_id", "doc_id", s"$bm25MicroExpr AS micro")
      .groupBy("query_id", "doc_id").agg(sum("micro").as("score_micro"))

  /** Shared ranking tail over [[score]]'s sums: the bounded TopK
    * aggregate — O(queries×k) shuffle rows, never a per-query window sort.
    */
  private def bm25Rank(scored: DataFrame): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopK.topk(Bm25TopK)(
        col("doc_id"), col("score_micro").cast("double")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("doc_id"),
        col("col.score").cast("long").as("score_micro")) // < 2^53: exact
      .orderBy("query_id", "rk")

  /** CACHE-LIFETIME CONTRACT (r21 ADVICE): the returned DataFrame's lineage
    * rides a `persist()` of the query-term postings (`tf` below) that this
    * method does NOT unpersist — the cache must outlive the return for the
    * two consumers to share it. Callers in a long-lived session should
    * `spark.catalog.clearCache()` (or unpersist after materializing) between
    * unrelated queries, exactly as Bench/Verify do; repeated un-cleared
    * calls accumulate MEMORY_AND_DISK blocks bounded by the searched terms'
    * postings per call.
    */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val d = bm25Corpus(spark, dir)
    val queries = bm25QueriesOf(d)
    val qset = queries.select("token").distinct()
    // persist: tf feeds BOTH the df derivation and the scoring join; the
    // r21 plan audit showed the whole corpus tokenize + explode + query
    // join running TWICE (no exchange reuse — the two consumers prune
    // different columns). The cached frame is only the searched terms'
    // postings (query-bounded, not corpus-vocabulary), and the harnesses
    // clear the session cache between queries.
    val tf = termFreqs(d, _.join(broadcast(qset), "token")).persist()
    bm25Rank(score(tf, broadcast(queries), broadcast(docFreqs(tf)), corpusStats(d)))
  }

  // ---- persisted inverted index (fit/apply: index once, search many) ----

  /** Session tables the persisted index lives under. */
  val Bm25PostingsTable = "bm25_postings"
  val Bm25DfTable = "bm25_df"
  val Bm25StatsTable = "bm25_stats"
  private val Bm25Buckets = 16
  private val Bm25Fingerprint = s"bm25:v1:buckets=$Bm25Buckets"

  /** Persist postings (BUCKETED by token — a literal term predicate at
    * search time prunes whole buckets from the scan), document
    * frequencies (derived FROM the stored postings: bucket-local count,
    * no exchange), and the two corpus constants, as one snapshot group
    * ([[graft.core.ModelTables.persistGroupIfStale]]).
    */
  def persistBm25Index(spark: SparkSession, dir: String,
      postingsTable: String = Bm25PostingsTable, dfTable: String = Bm25DfTable,
      statsTable: String = Bm25StatsTable): Unit =
    graft.core.ModelTables.persistGroupIfStale(spark, dir, Bm25Fingerprint)(
      bm25IndexWrites(spark, dir, postingsTable, dfTable, statsTable): _*)

  /** The three index writes as (table, thunk) pairs — the unit both
    * persistence disciplines share: [[persistBm25Index]] runs them under
    * the plain staleness gate, the forget path under the build-then-
    * mutate gate, and the gates run them directly against one-shot
    * tables.
    */
  private[graft] def bm25IndexWrites(spark: SparkSession, dir: String,
      postingsTable: String, dfTable: String,
      statsTable: String): Seq[(String, () => Unit)] =
    bm25IndexWritesOf(spark, bm25Corpus(spark, dir), postingsTable, dfTable,
      statsTable)

  /** [[bm25IndexWrites]] over an explicit (doc_id, tk) corpus frame —
    * what ForgetSpec's filtered-corpus rebuild and any partial-corpus
    * build need.
    */
  private[graft] def bm25IndexWritesOf(spark: SparkSession, d: DataFrame,
      postingsTable: String, dfTable: String,
      statsTable: String): Seq[(String, () => Unit)] = {
    Seq[(String, () => Unit)](
      // The full inverted index: one posting row per (token, doc) with tf
      // and doc length baked in — the corpus-scale pass (one tokenize + one
      // (doc, token) shuffle), paid once per corpus snapshot.
      // Deliberately NOT sortBy("token"): measured at 20x (README "Postings
      // layout adjudicated by measurement": a narrow search ran 1.83 s
      // sorted vs 1.26 s unsorted steady), token-sorting the bucket files
      // LOST on both the narrow and the mass search — at any per-bucket
      // size where a file holds a single parquet row group there is
      // nothing for min/max skipping to skip, the sorted write costs a sort
      // and fragments buckets into more files, and the >10-term mass path
      // degrades the pushed In to a min/max range that a corpus-spanning
      // term set never prunes. Revisit only when bucket files span many
      // row groups AND searches are few-term.
      postingsTable -> (() => termFreqs(d)
        .write.mode("overwrite").bucketBy(Bm25Buckets, "token")
        .saveAsTable(postingsTable)),
      dfTable -> (() => docFreqs(spark.table(postingsTable))
        .write.mode("overwrite").saveAsTable(dfTable)),
      statsTable -> (() => corpusStats(d)
        .write.mode("overwrite").saveAsTable(statsTable)))
  }

  /** The query-term set a plan is cut to — the only thing the search
    * paths differ in. [[Terms.literal]] collects the tokens (bounded: they
    * ARE the search input) into a LITERAL predicate, so the postings scan
    * prunes rows and whole buckets, and broadcasts. [[Terms.frame]] keeps
    * them a DATAFRAME cut by token semi-join — zero driver collects; the
    * query join cuts the bucketBy(token) postings, every bucket read.
    */
  private[graft] final class Terms private (val keep: DataFrame => DataFrame,
      val scan: DataFrame => DataFrame, val hint: DataFrame => DataFrame)

  private[graft] object Terms {
    def literal(queries: DataFrame): Terms = {
      val tokens = queries.select("token").collect().map(_.getString(0)).distinct.toSeq
      val keep = (rows: DataFrame) => rows.filter(col("token").isin(tokens: _*))
      new Terms(keep, keep, broadcast(_))
    }

    def frame(queries: DataFrame, bcast: Boolean): Terms = {
      val hint = (df: DataFrame) => if (bcast) broadcast(df) else df
      val tokens = queries.select("token").distinct()
      new Terms(_.join(hint(tokens), Seq("token"), "left_semi"), identity, hint)
    }
  }

  /** The search-time df/stats fold over PARTIAL-GENERATION tables (one
    * row set per admitted batch — see [[bm25AdmitDocs]]; the identity for
    * a one-shot [[persistBm25Index]]), df on the searched terms' rows only.
    */
  private def bm25Stats(spark: SparkSession, terms: Terms, dfTable: String,
      statsTable: String): (DataFrame, DataFrame) =
    (terms.keep(spark.table(dfTable)).groupBy("token")
      .agg(sum("df").cast("bigint").as("df")),
      spark.table(statsTable).agg(sum("n_docs").cast("bigint").as("n_docs"),
        sum("sum_dl").cast("bigint").as("sum_dl")))

  /** The one indexed search of a (query_id, token) frame: no corpus-scale
    * tokenize, shuffle, or join anywhere on this path.
    */
  private def search(spark: SparkSession, queries: DataFrame, terms: Terms,
      postingsTable: String, dfTable: String, statsTable: String): DataFrame = {
    // a compaction that died mid-window (postings already deduped, df/
    // stats still holding the pre-compaction partials) left its marker
    // behind — repair before scoring rather than silently using the
    // inflated statistics. Re-running compaction is always safe: every
    // step derives from postings alone.
    if (bm25CompactionTorn(spark, postingsTable))
      compactBm25Index(spark, postingsTable, dfTable, statsTable)
    val (dfreq, stats) = bm25Stats(spark, terms, dfTable, statsTable)
    bm25Rank(score(terms.scan(spark.table(postingsTable)), terms.hint(queries),
      terms.hint(dfreq), stats))
  }

  /** Search the persisted index with a bounded (query_id, token) frame —
    * the alert/search default: the [[Terms.literal]] cut prunes whole
    * buckets at the scan.
    */
  def bm25SearchAgainst(spark: SparkSession, queries: DataFrame,
      postingsTable: String = Bm25PostingsTable, dfTable: String = Bm25DfTable,
      statsTable: String = Bm25StatsTable): DataFrame =
    search(spark, queries, Terms.literal(queries), postingsTable, dfTable, statsTable)

  /** MASS-QUERY indexed search — the scale path for query sets that are
    * themselves data-scale (re-scoring a crawl against the index, batch
    * re-ranking): the query set stays a DATAFRAME end to end
    * ([[Terms.frame]]: no driver collect, no literal IN, no broadcast —
    * right when the term set touches most buckets anyway). Identical rows
    * to the literal form by construction (same folds, same ranking) — the
    * `txt_bm25_mass` oracle pins it.
    */
  def bm25SearchAgainstDf(spark: SparkSession, queries: DataFrame,
      postingsTable: String = Bm25PostingsTable, dfTable: String = Bm25DfTable,
      statsTable: String = Bm25StatsTable): DataFrame =
    search(spark, queries, Terms.frame(queries, bcast = false), postingsTable,
      dfTable, statsTable)

  /** Gated entry for the mass path: the standard query set served
    * through [[bm25SearchAgainstDf]] — rows must equal the literal-IN
    * indexed search and the inline ranking (same oracle).
    */
  def bm25Mass(spark: SparkSession, dir: String): DataFrame = {
    persistBm25Index(spark, dir)
    bm25SearchAgainstDf(spark, bm25Queries(spark, dir))
  }

  /** ADMISSION: append one batch of documents to a (possibly empty)
    * index as pure partials — postings rows bucket-aligned, a df
    * partial, a stats partial. Everything is batch-local map/agg work
    * plus appends; the existing index is NEVER read or rewritten, which
    * is what makes continuous ingest O(batch) — the search-time folds in
    * [[bm25SearchAgainst]] absorb the generations (compaction folds them
    * physically when file counts matter; the substring family's
    * temp-table+rename compactor is the template).
    */
  def bm25AdmitDocs(batch: DataFrame,
      postingsTable: String = Bm25PostingsTable, dfTable: String = Bm25DfTable,
      statsTable: String = Bm25StatsTable): Unit = {
    val d = batch.selectExpr("doc_id", s"$toks AS tk")
    val post = termFreqs(d).persist()
    try {
      post.write.mode("append").bucketBy(Bm25Buckets, "token")
        .saveAsTable(postingsTable)
      docFreqs(post).write.mode("append").saveAsTable(dfTable)
      corpusStats(d).write.mode("append").saveAsTable(statsTable)
    } finally { post.unpersist(); () }
  }

  /** Compact a grown index. Postings: dedup + one file per bucket via the
    * substring family's temp-table+rename rewrite — EXACT-duplicate
    * posting rows are at-least-once replay copies (tf/dl are
    * deterministic per doc), so distinct() removes precisely them. Then
    * df and stats are REBUILT from the deduped postings as single
    * generations — rebuilding rather than folding is what makes
    * compaction a REPAIR step: a replayed admission batch double-counts
    * its df/stats partials, and recomputation from repaired postings
    * restores the exact batch-built index. Returns the postings
    * (files-before, files-after) pair.
    *
    * Crash contract: each of the three rewrites is individually atomic
    * (temp + rename with torn-run promotion), and the window BETWEEN them
    * is fenced by a durable in-progress marker (the cascade sink's
    * marker discipline, [[graft.streaming.StreamingQueries]]): published
    * BEFORE the first rewrite, removed only after ALL three finished. A
    * crash inside the window — postings already deduped, df/stats still
    * holding inflated partials — leaves the marker behind, so
    * [[bm25SearchAgainst]] detects the torn state and repairs (re-runs
    * the compaction, always safe: every step derives from postings
    * alone) instead of silently scoring with inflated statistics.
    */
  def compactBm25Index(spark: SparkSession,
      postingsTable: String = Bm25PostingsTable, dfTable: String = Bm25DfTable,
      statsTable: String = Bm25StatsTable): (Long, Long) =
    compactBm25IndexHooked(spark, postingsTable, dfTable, statsTable)(() => ())

  /** [[compactBm25Index]] with a crash-injection seam between the
    * postings rewrite and the derived-table rebuilds — the window the
    * marker exists to fence. Test-only hook; production callers go
    * through the no-op default.
    */
  private[graft] def compactBm25IndexHooked(spark: SparkSession,
      postingsTable: String, dfTable: String, statsTable: String)(
      afterPostings: () => Unit): (Long, Long) =
    rewriteBm25IndexHooked(spark, postingsTable, dfTable, statsTable)(
      _.distinct())(afterPostings)

  /** FORGET (right-to-be-forgotten): delete every posting of the given
    * doc ids from the index, then rebuild df/stats from the surviving
    * postings — deletion PROPAGATES to the derived statistics, so a
    * search after forgetting scores exactly as if the index had been
    * built from the filtered corpus (the `txt_bm25_forget` oracle states
    * that equality; ForgetSpec pins the tables bit-equal to a
    * filtered-corpus build). Runs under the same marker fence as
    * compaction: a crash between the postings rewrite and the stats
    * rebuild leaves the marker, and the next search repairs by
    * recompacting — which recomputes df/stats from the already-forgotten
    * postings, completing the forget. Idempotent: re-forgetting absent
    * ids is an anti-join no-op. The forget set is bounded (it is the
    * deletion request), hence broadcast; the rewrite cost is one pass
    * over the postings, the price of physical deletion in any
    * immutable-file store.
    */
  def forgetBm25Docs(spark: SparkSession, forgetIds: DataFrame,
      postingsTable: String = Bm25PostingsTable, dfTable: String = Bm25DfTable,
      statsTable: String = Bm25StatsTable): (Long, Long) =
    rewriteBm25IndexHooked(spark, postingsTable, dfTable, statsTable)(
      forgetting(forgetIds))(() => ())

  /** Postings without `forgetIds`' docs (a bounded request: broadcast). */
  private def forgetting(forgetIds: DataFrame): DataFrame => DataFrame =
    _.join(broadcast(forgetIds.select("doc_id")), Seq("doc_id"), "left_anti")

  /** The shared fenced-rewrite core: marker publish → postings transform
    * (atomic bucket-aligned rewrite) → df/stats REBUILT from the new
    * postings → marker clear. Compaction passes distinct(), forget an
    * anti-join; both inherit the identical torn-window repair contract
    * because the marker does not care WHICH rewrite died — recompaction
    * always restores consistency from postings alone.
    */
  private[graft] def rewriteBm25IndexHooked(spark: SparkSession,
      postingsTable: String, dfTable: String, statsTable: String)(
      transform: DataFrame => DataFrame)(
      afterPostings: () => Unit): (Long, Long) = {
    val (fs, marker) = compactMarker(spark, postingsTable)
    // a surviving marker already fences this repair run
    if (!fs.exists(marker)) Commit.writeFile(fs,
      new Path(marker.getParent, s".tmp-${marker.getName}"), marker, "compacting\n")
    val counts = graft.operators.Dedup
      .rewriteBucketedTable(spark, postingsTable, "token")(transform)
    afterPostings()
    // the replacements derive from postings, never from the table they replace
    val (dfreq, stats) = derived(spark.table(postingsTable))
    Commit.swapTable(spark, dfTable)(dfreq.write.saveAsTable(_))
    Commit.swapTable(spark, statsTable)(stats.write.saveAsTable(_))
    fs.delete(marker, false)
    counts
  }

  /** The durable compaction fence, one per postings table, living next
    * to the warehouse tables it protects. Its PRESENCE is the signal.
    */
  private def compactMarker(spark: SparkSession, postingsTable: String): (FileSystem, Path) =
    warehousePath(spark, s"$postingsTable.compacting")

  /** `name` next to the warehouse tables, with its file system. */
  private def warehousePath(spark: SparkSession, name: String): (FileSystem, Path) = {
    val p = new Path(spark.conf.get("spark.sql.warehouse.dir"), name)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** True when a previous [[compactBm25Index]] died inside its rewrite
    * window, leaving the index internally inconsistent.
    */
  private[graft] def bm25CompactionTorn(spark: SparkSession,
      postingsTable: String = Bm25PostingsTable): Boolean = {
    val (fs, m) = compactMarker(spark, postingsTable)
    fs.exists(m)
  }

  /** Continuous index build: every micro-batch of arriving documents is
    * admitted as append-only partials. Because tf/dl are per-doc local
    * and df/stats are additive, ANY chunking that keeps docs whole
    * folds to the batch-built index exactly — the gate's oracle.
    */
  def bm25IngestStream(newDocs: DataFrame,
      postingsTable: String, dfTable: String, statsTable: String)(
      onBatch: () => Unit = () => ()): StreamingQuery =
    eachBatch(newDocs) { b => bm25AdmitDocs(b, postingsTable, dfTable, statsTable); onBatch() }

  /** `txt_bm25_indexed`: build-or-reuse the index, then run the standard
    * query set against it — must equal [[bm25Topk]] bit-for-bit (same
    * oracle).
    */
  def bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    persistBm25Index(spark, dir)
    bm25SearchAgainst(spark, bm25Queries(spark, dir))
  }

  // ---- right-to-be-forgotten: deletion propagation through the index ----

  /** The deterministic forget set (~6% of doc ids) — stands in for the
    * stream of deletion requests a data-subject-rights pipeline receives;
    * the modulus keys the oracle's corpus filter.
    */
  val Bm25ForgetMod = 17
  val Bm25ForgetRem = 3

  private[graft] def forgetDocIds(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select("doc_id")
      .filter(col("doc_id") % Bm25ForgetMod === Bm25ForgetRem)

  private[graft] val Bm25FgPostingsTable = "bm25_fg_postings"
  private[graft] val Bm25FgDfTable = "bm25_fg_df"
  private[graft] val Bm25FgStatsTable = "bm25_fg_stats"

  /** `txt_bm25_forget`: build the dedicated index from the full corpus,
    * FORGET the deletion set ([[forgetBm25Docs]] — postings rewritten,
    * df/stats rebuilt), then run the standard query set (still derived
    * from the full corpus: deletion requests don't change who searches).
    * The result must equal a search against an index built from the
    * corpus WITHOUT the forgotten docs — the oracle states exactly that.
    * Persistence: the build+forget pair runs under the build-then-mutate
    * staleness gate, so steady-state calls skip straight to the search
    * and the benched cost is the query side, like every fit/apply family.
    */
  def bm25Forget(spark: SparkSession, dir: String): DataFrame = {
    graft.core.ModelTables.persistGroupMutatedIfStale(spark, dir,
      "bm25-forget:v1")(
      bm25IndexWrites(spark, dir, Bm25FgPostingsTable, Bm25FgDfTable,
        Bm25FgStatsTable): _*)(
      () => { forgetBm25Docs(spark, forgetDocIds(spark, dir),
        Bm25FgPostingsTable, Bm25FgDfTable, Bm25FgStatsTable); () })
    bm25SearchAgainst(spark, bm25Queries(spark, dir),
      Bm25FgPostingsTable, Bm25FgDfTable, Bm25FgStatsTable)
  }

  /** Continuous deletion: every micro-batch of arriving forget requests
    * is applied as a fenced anti-join rewrite. Anti-joins compose —
    * applying batches sequentially equals one anti-join of their union,
    * and replaying a batch is a no-op — so ANY chunking (and at-least-
    * once redelivery) of the deletion stream lands on the batch-forget
    * answer; the `stream_forget_docs` gate holds it to the same oracle.
    */
  def bm25ForgetStream(forgetIds: DataFrame, postingsTable: String,
      dfTable: String, statsTable: String): StreamingQuery =
    eachBatch(forgetIds)(b => forgetBm25Docs(b.sparkSession, b, postingsTable, dfTable, statsTable))

  private[graft] def bm25ScoreCtes(stride: Int): String =
    bm25ScoreCtesWhere(stride, "TRUE")

  /** [[bm25ScoreCtes]] with a doc-side predicate: the scored corpus (tf,
    * df, stats) is filtered, the QUERY set still derives from the full
    * corpus — the forget oracle's shape (deletion requests change the
    * index, not who searches it).
    */
  private[graft] def bm25ScoreCtesWhere(stride: Int, docWhere: String): String =
    s"""dall AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |d AS (SELECT doc_id, tk FROM dall WHERE $docWhere),
       |${seededSql("q", s"doc_id % $stride = 0")}
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl FROM (
       |    SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM d
       |  ) WHERE token IN (SELECT token FROM q) GROUP BY 1, 2
       |),
       |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(len(tk)) AS BIGINT) AS sum_dl FROM d),
       |term AS (
       |  SELECT query_id, doc_id, $bm25MicroExpr AS micro
       |  FROM tf JOIN q USING (token) JOIN dfreq USING (token) CROSS JOIN stats
       |),
       |score AS (
       |  SELECT query_id, doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
       |  FROM term GROUP BY 1, 2
       |)""".stripMargin

  /** The SQL twin of [[seededQueries]]: the `name` CTE over `dall`. */
  private def seededSql(name: String, where: String): String =
    s"""$name AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct(tk[1:$Bm25QueryTerms])) AS token
       |  FROM dall WHERE $where
       |),""".stripMargin

  /** The top-k ranking over [[bm25ScoreCtesWhere]]'s scores. */
  private def bm25RankOracle(docWhere: String): String =
    s"""WITH ${bm25ScoreCtesWhere(Bm25QueryStride, docWhere)}
       |SELECT query_id, rk, doc_id, score_micro FROM (
       |  SELECT query_id, doc_id, score_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rk
       |  FROM score
       |)
       |WHERE rk <= $Bm25TopK
       |ORDER BY query_id, rk""".stripMargin

  val bm25TopkOracle: String = bm25RankOracle("TRUE")

  /** The forget equality, stated independently: the same BM25 ranking
    * computed over the corpus MINUS the forgotten docs (queries still
    * from the full corpus). If any forgotten posting, df row, or stats
    * contribution survived in the index, the hash diverges.
    */
  val bm25ForgetOracle: String =
    bm25RankOracle(s"doc_id % $Bm25ForgetMod <> $Bm25ForgetRem")

  // ---- generation-pointer serving: reads during maintenance ----

  /** GENERATION-POINTER layout for the BM25 index — the serve-during-
    * maintenance discipline. The in-place rewrites ([[compactBm25Index]],
    * [[forgetBm25Docs]]) carry a SINGLE-WRITER contract that implicitly
    * excludes readers too: DROP+RENAME swaps the canonical table under a
    * concurrently-planned query, which can then hit vanished part files.
    * A serving tier at 100x scale cannot stop for compaction, so this
    * layer makes index generations IMMUTABLE and moves the swap into a
    * pointer:
    *
    *  - generation N lives in tables `<base>_post_gN` / `_df_gN` /
    *    `_stats_gN`, written once and never touched again;
    *  - the live pointer is the max `g=N` marker of a
    *    [[graft.core.Generations]] dir `<base>.GEN` next to the warehouse
    *    tables; a torn rewrite (tables written, marker missing) is
    *    repaired by re-running the rewrite, which drops and rebuilds the
    *    unpublished generation;
    *  - readers resolve the pointer ONCE at plan time
    *    ([[bm25SearchAgainstGen]]) and keep reading their resolved
    *    generation to completion;
    *  - the sweeper retains generation N-1 when publishing N+1, so a
    *    reader that resolved just before a flip still has its tables; a
    *    reader must only outlive fewer than two full rewrite cycles —
    *    query latency vs compaction cadence, orders of magnitude apart
    *    in any deployment.
    *
    * StorageSpec drives a search loop concurrently with fired
    * generation rewrites: zero errors, every answer equal to one
    * generation's oracle.
    */
  private def gens(spark: SparkSession, base: String): Generations = {
    val (fs, d) = warehousePath(spark, s"$base.GEN")
    Generations(fs, d, "g=")
  }

  private[graft] def genTables(base: String, g: Long): (String, String, String) =
    (s"${base}_post_g$g", s"${base}_df_g$g", s"${base}_stats_g$g")

  /** Drop generation `g` from both catalog layers: a fresh JVM's catalog
    * misses a previous JVM's tables while their warehouse dirs survive.
    */
  private def dropGen(spark: SparkSession, base: String, g: Long): Unit = {
    val (p, df, st) = genTables(base, g)
    Seq(p, df, st).foreach(t => graft.core.ModelTables.dropBothLayers(spark, t))
  }

  /** The live generation — the max published marker. */
  def bm25GenCurrent(spark: SparkSession, base: String): Long =
    gens(spark, base).current

  /** Build generation 0 from a (doc_id, tk) corpus frame and publish the
    * pointer. Idempotent: an already-initialized base returns its live
    * generation; a torn init (tables written, marker missing) rebuilds.
    */
  def bm25GenInit(spark: SparkSession, base: String, corpus: DataFrame): Long = {
    val gs = gens(spark, base)
    gs.latest.getOrElse {
      dropGen(spark, base, 0L)
      val (p, df, st) = genTables(base, 0L)
      bm25IndexWritesOf(spark, corpus, p, df, st).foreach(_._2())
      gs.mark(0L)
      0L
    }
  }

  /** Publish generation N+1 = `transform`(generation N's postings), with
    * df/stats rebuilt from the new postings — the generation twin of the
    * in-place [[rewriteBm25IndexHooked]], with NO marker fence: nothing
    * is ever inconsistent in place, the pointer flip IS the commit, and
    * concurrent readers keep serving N (or N-1) throughout. Sweeps
    * generations <= N-1 after the flip. Returns the new generation.
    */
  def bm25GenRewrite(spark: SparkSession, base: String)(
      transform: DataFrame => DataFrame): Long = {
    val gs = gens(spark, base)
    val g = gs.current
    val (p0, _, _) = genTables(base, g)
    val (p1, d1, s1) = genTables(base, g + 1)
    // a torn previous attempt left unpublished g+1 tables: rebuild them
    dropGen(spark, base, g + 1)
    val cols = spark.table(p0).columns
    transform(spark.table(p0))
      .select(cols.map(col).toIndexedSeq: _*)
      .repartition(Bm25Buckets, col("token"))
      .write.bucketBy(Bm25Buckets, "token").saveAsTable(p1)
    val (dfreq, stats) = derived(spark.table(p1))
    dfreq.write.saveAsTable(d1)
    stats.write.saveAsTable(s1)
    gs.mark(g + 1)
    // retain N-1 for in-flight readers; drop everything older
    gs.sweepBelow(g)(dropGen(spark, base, _))
    g + 1
  }

  /** Drop every generation (catalog-known OR orphaned by a previous JVM —
    * the warehouse dirs outlive the in-memory catalog) and the pointer
    * dir — the gate/spec cleanup and the stale-rebuild prelude.
    */
  private[graft] def bm25GenDropAll(spark: SparkSession, base: String): Unit = {
    val Generations(fs, gen, _) = gens(spark, base)
    val wh = gen.getParent
    val pat = s"${java.util.regex.Pattern.quote(base)}_(post|df|stats)_g[0-9]+".r.pattern
    if (fs.exists(wh))
      fs.listStatus(wh).toSeq.map(_.getPath.getName)
        .filter(n => pat.matcher(n).matches())
        .foreach(t => graft.core.ModelTables.dropBothLayers(spark, t))
    fs.delete(gen, true); ()
  }

  /** Search through the pointer: resolve the live generation at plan
    * time, then the standard indexed search against its immutable
    * tables. No torn-marker repair path — generations are never
    * internally inconsistent.
    */
  def bm25SearchAgainstGen(spark: SparkSession, queries: DataFrame,
      base: String): DataFrame = {
    val (p, df, st) = genTables(base, bm25GenCurrent(spark, base))
    bm25SearchAgainst(spark, queries, p, df, st)
  }

  private[graft] val Bm25GenBase = "bm25gen"
  private val Bm25GenAnchor = "bm25gen_anchor"

  /** `txt_bm25_gen`: the generation-pointer lifecycle as a gated row —
    * init generation 0 from the corpus, publish generation 1 as the
    * forget rewrite (a REAL maintenance fire, so the pointer flip is
    * observable in the answer), search through the pointer. Must equal
    * the in-place forget path bit-for-bit (same oracle as
    * `txt_bm25_forget`). The anchor table carries the staleness stamp
    * for the whole generation chain (generation tables have dynamic
    * names, so they cannot be stamped directly); steady-state calls pay
    * only the pointer read + search.
    */
  def bm25GenForget(spark: SparkSession, dir: String): DataFrame = {
    graft.core.ModelTables.persistGroupMutatedIfStale(spark, dir,
      "bm25-gen:v1")(
      Bm25GenAnchor -> (() => {
        bm25GenDropAll(spark, Bm25GenBase)
        bm25GenInit(spark, Bm25GenBase, bm25Corpus(spark, dir))
        spark.range(1).write.saveAsTable(Bm25GenAnchor)
      }))(
      () => { bm25GenRewrite(spark, Bm25GenBase)(forgetting(forgetDocIds(spark, dir))); () })
    bm25SearchAgainstGen(spark, bm25Queries(spark, dir), Bm25GenBase)
  }

  // ---- percolation: standing queries, streaming documents ----

  /** Gate standing-query stride: 10x sparser than the search query set.
    * The percolate GATE proves plumbing (frozen-stat scoring through real
    * micro-batches); its emission volume is queries x matching docs —
    * quadratic in the corpus when the standing set is corpus-derived —
    * so the gate registers a sparser set and leaves scale claims to the
    * probes (sf0.1 gate 10.6 s -> 5.2 s at identical semantics).
    */
  private val Bm25PercolateStride = 370

  /** The standing query set as a DATAFRAME (query_id, token) — what the
    * lake-backed percolator persists and re-resolves per micro-batch; no
    * driver collect anywhere on the registration path.
    */
  private[graft] def bm25StandingQueriesDf(spark: SparkSession, dir: String,
      seedWhere: Column): DataFrame =
    seededQueries(bm25Corpus(spark, dir),
      col("doc_id") % Bm25PercolateStride === 0 && seedWhere)

  /** The standing set built ONCE as a local relation (bounded: it IS the
    * registered alert set) — never rescanned per batch, and its
    * [[Terms.literal]] cut collects without a Spark job.
    */
  private[graft] def bm25Standing(spark: SparkSession, dir: String): DataFrame = {
    val q = bm25StandingQueriesDf(spark, dir, lit(true))
    spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
  }

  /** Percolation scorer over an arbitrary (doc_id, text) batch: tf and
    * doc length come from the ARRIVING documents (batch-local, no state);
    * idf and the corpus constants come FROZEN from the persisted index —
    * percolator semantics: a new document is scored in the indexed
    * corpus's statistic space, so registered alerts fire consistently
    * no matter when a document arrives. Emits every (query, doc) pair
    * sharing at least one term — match emission, no top-k truncation —
    * unless `minScoreMicro` bounds it: with a threshold, only matches
    * scoring at least that many micro-nats emit, which is what keeps a
    * standing set derived from a large corpus from emitting
    * quadratically (every alert×every arriving doc). The filter is
    * per-(query, doc) and stateless, so it composes with the streaming
    * form unchanged. `terms` is the standing set's cut, either form.
    */
  private[graft] def bm25PercolateScore(batch: DataFrame, standing: DataFrame,
      terms: Terms, dfTable: String, statsTable: String,
      minScoreMicro: Option[Long] = None): DataFrame = {
    val (dfreq, stats) = bm25Stats(batch.sparkSession, terms, dfTable, statsTable)
    val scored = score(termFreqs(batch.selectExpr("doc_id", s"$toks AS tk"), terms.keep),
      terms.hint(standing), terms.hint(dfreq), stats)
    minScoreMicro.fold(scored)(t => scored.filter(col("score_micro") >= t))
  }

  /** [[bm25PercolateScore]] cut by the standing frame itself
    * ([[Terms.frame]], broadcast): zero collects, which is what lets the
    * streaming percolator RE-RESOLVE the set per micro-batch.
    */
  private[graft] def bm25ScoreDocsDf(batch: DataFrame, standing: DataFrame,
      dfTable: String, statsTable: String,
      minScoreMicro: Option[Long] = None): DataFrame =
    bm25PercolateScore(batch, standing, Terms.frame(standing, bcast = true),
      dfTable, statsTable, minScoreMicro)

  /** Emission bound for [[bm25PercolateBounded]]: −4 micro-nat-millions.
    * BM25 scores here are routinely NEGATIVE (the standing queries' lead
    * tokens are corpus-common, so Robertson idf < 0 for most terms); the
    * constant sits inside the observed score range at every test SF
    * (keeps ~16–30 % of raw emissions at sf0.001/0.01/0.1, and every
    * standing query retains at least one match), so both branches of the
    * bound are exercised wherever the row is gated. Because idf depends
    * on df/N — a RATIO — the band is roughly scale-invariant, which is
    * what lets one constant stay non-vacuous across SFs.
    */
  val Bm25PercolateMinMicro: Long = -4000000L

  /** BOUNDED percolation as a batch row: the standing alert set scored
    * over the whole corpus-as-arriving-batch, emissions cut at
    * [[Bm25PercolateMinMicro]]. This is the production shape for a
    * standing set that is itself corpus-derived — raw match emission is
    * queries×matching-docs (quadratic when both grow with the corpus);
    * the score bound caps it at the rows anyone would alert on. The
    * unbounded form stays gated by `stream_bm25_percolate`.
    */
  def bm25PercolateBounded(spark: SparkSession, dir: String): DataFrame =
    bm25Percolate(spark, dir, Some(Bm25PercolateMinMicro))

  /** The percolation score table over the standing set, emissions cut at
    * `minScoreMicro` when one is given.
    */
  private def bm25Percolate(spark: SparkSession, dir: String,
      minScoreMicro: Option[Long]): DataFrame = {
    persistBm25Index(spark, dir)
    val standing = bm25Standing(spark, dir)
    bm25PercolateScore(docs(spark, dir), standing, Terms.literal(standing),
        Bm25DfTable, Bm25StatsTable, minScoreMicro)
      .orderBy("query_id", "doc_id")
  }

  /** The raw (unbounded) emission over the same inputs — the spec's
    * reference for proving the bound is a pure filter.
    */
  private[graft] def bm25PercolateRawForSpec(spark: SparkSession,
      dir: String): DataFrame =
    bm25Percolate(spark, dir, minScoreMicro = None)

  /** The percolation score table, `where`-filtered. */
  private def percolateOracle(where: String): String =
    s"""WITH ${bm25ScoreCtes(Bm25PercolateStride)}
       |SELECT query_id, doc_id, score_micro FROM score
       |${where}ORDER BY query_id, doc_id""".stripMargin

  val bm25PercolateBoundedOracle: String =
    percolateOracle(s"WHERE score_micro >= $Bm25PercolateMinMicro\n")

  /** Continuous percolation: each micro-batch of arriving documents is
    * scored against the standing queries with the frozen index stats —
    * per-doc and stateless, so the union of batch emissions equals the
    * batch score table for any chunking that keeps docs whole. The
    * standing frame is frozen for the stream's life (a [[bm25Standing]]
    * local relation), so its literal cut is collected once, at start.
    */
  def bm25PercolateStream(newDocs: DataFrame, standing: DataFrame,
      dfTable: String = Bm25DfTable, statsTable: String = Bm25StatsTable)(
      sink: DataFrame => Unit): StreamingQuery = {
    val terms = Terms.literal(standing)
    eachBatch(newDocs)(b => sink(bm25PercolateScore(b, standing, terms, dfTable, statsTable)))
  }

  val bm25PercolateOracle: String = percolateOracle("")

  // ---- percolation with an UPDATABLE standing-query lake ----

  /** The percolate-lake gate's two standing generations: set A (every
    * 2nd stride seed) is registered at stream start; set B (stride seeds
    * off the 3rd multiples) replaces it mid-stream — A\\B retires alerts,
    * B\\A registers new ones, so both update directions are exercised.
    */
  private[graft] def percolateSeedA: org.apache.spark.sql.Column =
    col("doc_id") % (2L * Bm25PercolateStride) === 0
  private[graft] def percolateSeedB: org.apache.spark.sql.Column =
    col("doc_id") % (3L * Bm25PercolateStride) =!= 0

  /** GENERATION-POINTERED standing-query lake — registrations live in
    * immutable per-generation parquet dirs (`<lake>/g=N`,
    * [[graft.core.Generations]]), and an update PUBLISHES generation N+1
    * instead of overwriting in place, so an
    * updater racing a concurrently-planned micro-batch can never expose
    * a half-written set: the batch keeps reading the generation it
    * resolved. Readers take the max generation; the sweeper retains N-1
    * (the same calculus as the BM25 table generations). The lake is
    * bounded — it IS the registered alert set — so a publish is one
    * bounded write + a rename at any corpus scale.
    */
  object StandingLake {
    private def lake(spark: SparkSession, lakeDir: String): Generations = {
      val root = new Path(lakeDir)
      Generations(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, "g=")
    }

    /** Publish `standing` as the next generation; returns its id. */
    def publish(standing: DataFrame, lakeDir: String): Long = {
      val gs = lake(standing.sparkSession, lakeDir)
      val g = gs.latest.getOrElse(-1L) + 1
      gs.publish(g)(tmp => standing.write.mode("overwrite").parquet(tmp.toString))
      gs.sweepBelow(g - 1)() // retain g-1 for in-flight readers
      g
    }

    /** The live generation's path — resolved once per micro-batch. */
    def resolve(spark: SparkSession, lakeDir: String): String = {
      val gs = lake(spark, lakeDir)
      gs.path(gs.current).toString
    }
  }

  /** Continuous percolation against a PERSISTED standing-query lake:
    * every micro-batch re-resolves the live lake GENERATION at its
    * boundary ([[StandingLake]]), so alerts can be registered and
    * retired WITHOUT restarting the percolator — the gap that made
    * [[bm25PercolateStream]]'s frozen set a restart per standing-set
    * change — and an update can race a planning batch safely
    * (generations are immutable; the publish rename is the commit). The
    * lake read is bounded (it is the set of registered alerts); scoring
    * is [[bm25ScoreDocsDf]]'s zero-collect plan.
    */
  def bm25PercolateLakeStream(newDocs: DataFrame, lakePath: String,
      dfTable: String = Bm25DfTable, statsTable: String = Bm25StatsTable)(
      sink: DataFrame => Unit): StreamingQuery =
    eachBatch(newDocs) { b =>
      val s = b.sparkSession
      sink(bm25ScoreDocsDf(b, s.read.parquet(StandingLake.resolve(s, lakePath)),
        dfTable, statsTable))
    }

  /** Oracle for `stream_bm25_percolate_lake`: the document chunks are the
    * staged split (chunk arithmetic mirrored from
    * [[graft.streaming.StreamingQueries.chunkIdSql]]); chunk-0 docs score
    * against standing set A, chunks 1-2 against set B; df/stats stay the
    * frozen full-corpus constants throughout (percolator semantics —
    * updating WHO is listening never changes the statistic space).
    */
  val bm25PercolateLakeOracle: String = {
    val stride = Bm25PercolateStride
    def term(set: String, chunk: String) =
      s"""term$set AS (
         |  SELECT query_id, doc_id, $bm25MicroExpr AS micro
         |  FROM tf JOIN q$set USING (token) JOIN dfreq USING (token)
         |  CROSS JOIN stats CROSS JOIN bounds
         |  WHERE CAST((doc_id - t0) * 3 // span AS INT) $chunk
         |)""".stripMargin
    s"""WITH dall AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |${seededSql("qa", s"doc_id % ${2L * stride} = 0")}
       |${seededSql("qb", s"doc_id % $stride = 0 AND doc_id % ${3L * stride} <> 0")}
       |qt AS (SELECT token FROM qa UNION SELECT token FROM qb),
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl FROM (
       |    SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM dall
       |  ) WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2
       |),
       |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(len(tk)) AS BIGINT) AS sum_dl FROM dall),
       |bounds AS (SELECT min(doc_id) AS t0, max(doc_id) - min(doc_id) + 1 AS span FROM documents),
       |${term("a", "= 0")},
       |${term("b", ">= 1")}
       |SELECT query_id, doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
       |FROM (SELECT * FROM terma UNION ALL SELECT * FROM termb)
       |GROUP BY 1, 2
       |ORDER BY query_id, doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Phrase search (positional postings)
  // -------------------------------------------------------------------------

  /** PHRASE SEARCH — exact consecutive-token match via POSITIONAL
    * postings: every [[Bm25QueryStride]]-th document's first two tokens
    * form a standing phrase; a document matches when the two tokens occur
    * at adjacent positions. The plan is the classic positional-index
    * intersection: one posexplode pass cut to phrase terms by a broadcast
    * membership probe (work scales with the PHRASE terms' postings, not
    * the corpus), the two position streams equi-join on
    * (query, doc, pos+1=pos) — never a substring scan over full text.
    * The oracle states the SAME semantics independently as literal
    * substring containment over the single-space corpus
    * (`contains(' '||text||' ', ' '||t1||' '||t2||' ')`), so the two
    * formulations cross-check each other.
    */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val d = bm25Corpus(spark, dir)
    val q = d.filter(col("doc_id") % Bm25QueryStride === 0 && expr("size(tk) >= 2"))
      .selectExpr("doc_id AS query_id", "tk[0] AS t1", "tk[1] AS t2")
    val qset = q.selectExpr("t1 AS token").union(q.selectExpr("t2 AS token")).distinct()
    val pos = d.selectExpr("doc_id", "posexplode(tk) AS (pos, token)")
      .join(broadcast(qset), "token")
    val m1 = pos.join(broadcast(q), col("token") === col("t1"))
      .select(col("query_id"), col("doc_id"), col("pos"))
    val m2 = pos.join(broadcast(q), col("token") === col("t2"))
      .select(col("query_id").as("query_id2"), col("doc_id").as("doc_id2"),
        col("pos").as("pos2"))
    m1.join(m2, col("query_id") === col("query_id2") &&
        col("doc_id") === col("doc_id2") && col("pos2") === col("pos") + 1)
      .select("query_id", "doc_id").distinct()
      .orderBy("query_id", "doc_id")
  }

  val phraseSearchOracle: String =
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
       |q AS (
       |  SELECT doc_id AS query_id, tk[1] AS t1, tk[2] AS t2 FROM d
       |  WHERE doc_id % $Bm25QueryStride = 0 AND len(tk) >= 2
       |)
       |SELECT DISTINCT query_id, d.doc_id AS doc_id
       |FROM q JOIN d
       |  ON contains(' ' || d.text || ' ', ' ' || t1 || ' ' || t2 || ' ')
       |ORDER BY query_id, doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Snippet extraction (keyword-in-context, the display half of search)
  // -------------------------------------------------------------------------

  /** Context tokens shown on each side of the hit. */
  val SnippetContext = 2

  /** SNIPPET EXTRACTION — for every standing query term (each
    * [[Bm25QueryStride]]-th document's FIRST token) and every document
    * containing it, the first occurrence position (1-based) and a
    * +/-[[SnippetContext]]-token window around it. The plan is the
    * search family's shape: posexplode cut to query terms by a broadcast
    * membership probe, a (doc, token) min-position aggregate (shuffle
    * volume = searched-term occurrences), then a map-only slice/concat
    * back on the doc row — full text never shuffles, only (doc_id,
    * token, pos) triples do.
    */
  def snippet(spark: SparkSession, dir: String): DataFrame = {
    val d = bm25Corpus(spark, dir)
    val q = d.filter(col("doc_id") % Bm25QueryStride === 0)
      .selectExpr("doc_id AS query_id", "tk[0] AS t1")
    val qset = q.select(col("t1").as("token")).distinct()
    val firstPos = d
      .selectExpr("doc_id", "posexplode(tk) AS (p, token)")
      .join(broadcast(qset), "token")
      .groupBy("doc_id", "token")
      .agg(min("p").as("p0")) // 0-based first occurrence
    firstPos
      .join(broadcast(q), col("token") === col("t1"))
      .join(d, "doc_id") // doc side re-joined for the window slice only
      .selectExpr("query_id", "doc_id", "CAST(p0 + 1 AS BIGINT) AS pos",
        s"""concat_ws(' ', slice(tk, greatest(p0 - $SnippetContext, 0) + 1,
           |  least(p0 + $SnippetContext, size(tk) - 1)
           |    - greatest(p0 - $SnippetContext, 0) + 1)) AS snippet""".stripMargin)
      .orderBy("query_id", "doc_id")
  }

  val snippetOracle: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |q AS (
       |  SELECT doc_id AS query_id, tk[1] AS t1 FROM d
       |  WHERE doc_id % $Bm25QueryStride = 0
       |),
       |hit AS (
       |  SELECT query_id, d.doc_id AS doc_id, tk,
       |    CAST(list_position(tk, t1) AS BIGINT) AS pos
       |  FROM q JOIN d ON list_contains(d.tk, t1)
       |)
       |SELECT query_id, doc_id, pos,
       |  array_to_string(tk[greatest(pos - $SnippetContext, 1):least(pos + $SnippetContext, len(tk))], ' ') AS snippet
       |FROM hit
       |ORDER BY query_id, doc_id""".stripMargin
}
