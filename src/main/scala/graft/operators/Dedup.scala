package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Commit, Tables}
import graft.streaming.StreamingQueries.eachBatch

/** Deduplication operators for LLM-data pipelines over `documents`:
  * exact (hash-groupBy), near-key blocking, n-gram Jaccard, MinHash+LSH,
  * SimHash. All hashing is md5-derived (identical in Spark and DuckDB), so
  * every stage is oracle-checkable; no RNG anywhere.
  *
  * Scale design (100 TB): every pipeline is shuffle-on-key only — shingle
  * inverted indexes are df-capped so no hot key explodes a join; signatures
  * are fixed-width per doc (16 minhash slots / 60 simhash bits); candidate
  * generation joins on band buckets, never cross-joins the corpus.
  */
object Dedup {

  /** 60-bit non-negative hash from md5 hex — bit-identical in DuckDB via
    * CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT).
    */
  private def hash60(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 15), 16, 10) AS LONG)"

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  // -------------------------------------------------------------------------
  // Exact dedup (hash-groupBy)
  // -------------------------------------------------------------------------

  /** Exact dedup on md5(text): one keeper (min doc_id) per distinct text +
    * copy count. At scale: a single hash shuffle on a 128-bit key.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_md5")

  val exactOracle: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY text_md5""".stripMargin

  /** Blocking-key dedup: groups by a lossy key (lang, length bucket, first
    * token) — the cheap first pass of a near-dup pipeline; unlike [[exact]]
    * it produces real multi-document groups on this corpus.
    */
  def nearKey(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("doc_id",
        "concat(lang, ':', CAST(n_chars div 100 AS STRING), ':', split(text, ' ')[0]) AS block_key")
      .groupBy("block_key")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
      .orderBy("block_key")

  val nearKeyOracle: String =
    """SELECT concat(lang, ':', CAST(n_chars // 100 AS VARCHAR), ':', split_part(text, ' ', 1)) AS block_key,
      |  min(doc_id) AS keeper_id, count(*) AS n_members
      |FROM documents
      |GROUP BY 1 HAVING count(*) > 1 ORDER BY block_key""".stripMargin

  val EditBlockCap = 20

  /** Banded Levenshtein: exact distance if <= band, else -1. Two-row int
    * DP with row-min early exit (every path crosses each row and DP values
    * never decrease along a path, so a row whose minimum exceeds the band
    * can never recover). ~10x faster than the builtin expression (tight
    * primitive arrays, no per-call collation machinery) and exits early on
    * distant pairs. Char-based: identical to character-based engines on
    * ASCII/BMP text.
    */
  private[graft] def boundedLevenshtein(s: String, t: String, band: Int): Int = {
    val n = s.length
    val m = t.length
    if (math.abs(n - m) > band) return -1
    if (n == 0) return m
    if (m == 0) return n
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      var rowMin = i
      j = 1
      while (j <= m) {
        val cost = if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > band) return -1
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(m) <= band) prev(m) else -1
  }

  /** Edit-distance fuzzy dedup: pairwise Levenshtein INSIDE the near-key
    * blocks (lang + length bucket + first token), each block capped at its
    * [[EditBlockCap]] lowest doc_ids. The cap makes the quadratic stage
    * O(cap^2) per block — uncapped, block population grows with the corpus
    * and the stage is superlinear (34 s at sf0.1 vs 1.4 s at sf0.001).
    *
    * The DP runs in mapPartitions AFTER a pinned-width hash repartition of
    * the pair relation, for two measured reasons: (a) AQE coalesces the
    * few-MB pair shuffle to ONE partition, serializing the expensive
    * per-row compute (17 s single-threaded vs 1.4 s spread); (b) as a
    * Catalyst expression the `edit_dist >= 0` filter is pushed back below
    * the repartition and re-evaluates the DP in the coalesced stage —
    * mapPartitions is a pushdown barrier, so the compute provably runs
    * where the repartition put it. Band = floor(max_len/2) is exactly the
    * emit bound edit_sim >= 0.5, so every emitted pair carries the exact
    * distance and the full-DP oracle agrees row-for-row.
    */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("block_key").orderBy("doc_id")
    val keyed = docs(spark, dir).selectExpr("doc_id", "text",
        "concat(lang, ':', CAST(n_chars div 100 AS STRING), ':', split(text, ' ')[0]) AS block_key")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= EditBlockCap)
      .drop("rnk")
    keyed.as("a").join(keyed.as("b"), Seq("block_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.text").as("ta"), col("b.text").as("tb"))
      .transform(df => df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, col("doc_a"), col("doc_b")))
      .as[(Long, Long, String, String)]
      .mapPartitions(_.flatMap { case (docA, docB, ta, tb) =>
        val maxLen = math.max(ta.length, tb.length)
        val d = boundedLevenshtein(ta, tb, maxLen / 2)
        if (d >= 0 && maxLen > 0) {
          val sim = 1.0 - d.toDouble / maxLen
          if (sim >= 0.5) Some((docA, docB, d.toLong, maxLen.toLong, sim)) else None
        } else None
      })
      .toDF("doc_a", "doc_b", "edit_dist", "max_len", "edit_sim")
      .orderBy("doc_a", "doc_b")
  }

  val editDistanceOracle: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, text, block_key FROM (
       |    SELECT doc_id, text,
       |      concat(lang, ':', CAST(n_chars // 100 AS VARCHAR), ':', split_part(text, ' ', 1)) AS block_key,
       |      row_number() OVER (PARTITION BY concat(lang, ':', CAST(n_chars // 100 AS VARCHAR), ':', split_part(text, ' ', 1))
       |        ORDER BY doc_id) AS rnk
       |    FROM documents
       |  ) WHERE rnk <= $EditBlockCap
       |)
       |SELECT doc_a, doc_b, edit_dist, max_len, 1.0 - CAST(edit_dist AS DOUBLE) / max_len AS edit_sim
       |FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    levenshtein(a.text, b.text) AS edit_dist,
       |    greatest(length(a.text), length(b.text)) AS max_len
       |  FROM keyed a JOIN keyed b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
       |)
       |WHERE 1.0 - CAST(edit_dist AS DOUBLE) / max_len >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------------
  // Word-3-gram shingles (shared by Jaccard + MinHash)
  // -------------------------------------------------------------------------

  /** Distinct word-3-gram shingles per doc. df-capped downstream where
    * joined (stop-shingles would otherwise quadratically blow up the
    * inverted-index self-join at scale).
    */
  private[operators] def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(docs(spark, dir))

  private[operators] def shinglesOf(docsDf: DataFrame): DataFrame =
    docsDf
      // tokenize ONCE into a column: referencing split(...) inside the
      // transform lambda would re-split the whole text per n-gram (O(n^2))
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr(
        "doc_id",
        // CASE guard: Spark's sequence(1, n) is DESCENDING for n < 1, so a
        // <3-token doc would otherwise yield junk shingles instead of none
        """explode(array_distinct(CASE WHEN size(toks) >= 3
             THEN transform(sequence(1, size(toks) - 2),
               i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))
             ELSE CAST(array() AS ARRAY<STRING>) END)) AS shingle""")

  private[operators] val shinglesCte: String =
    """shingles AS (
      |  SELECT doc_id, unnest(list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |    FOR i IN range(1, greatest(len(s) - 1, 1))])) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
      |)""".stripMargin

  // -------------------------------------------------------------------------
  // n-gram Jaccard near-dup pairs
  // -------------------------------------------------------------------------

  /** Pairwise Jaccard over distinct 3-gram shingle sets via an inverted
    * index self-join (shuffle on shingle), df-capped at 100 docs/shingle.
    * Emits pairs with J >= 0.2.
    *
    * CACHE-LIFETIME CONTRACT (r21 ADVICE): the returned DataFrame's lineage
    * rides a `persist()` of the shingle explode that this method does NOT
    * unpersist — three consumers share it. Callers in a long-lived session
    * should `spark.catalog.clearCache()` (or unpersist after materializing)
    * between unrelated queries, exactly as Bench/Verify do.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // persist: the shingle explode (split + 3-gram transform + distinct)
    // feeds THREE consumers below (per-doc sizes, the df-cap, the inverted
    // index) and the r21 plan audit showed it computed three times — one
    // materialization instead; harnesses clear the session cache per query
    val sh = shingles(spark, dir).persist()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // df-cap BEFORE collect_list: the count aggregate is partial-agg safe
    // (no buffers), so a 10^8-doc stop-shingle is discarded without ever
    // materializing its doc list — capping on list size instead would build
    // the unbounded list in one reducer first. The surviving lists are
    // <= 100 elements by construction.
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt") <= 100).select("shingle")
    val pairs = sh.join(rare, "shingle")
      .groupBy("shingle").agg(collect_list(col("doc_id")).as("docs"))
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .selectExpr("doc_a", "doc_b", "n_common", "n_a", "n_b",
        "CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard")
      .filter(col("jaccard") >= 0.2)
      .orderBy("doc_a", "doc_b")
  }

  val ngramJaccardOracle: String =
    s"""WITH $shinglesCte,
       |capped AS (
       |  SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 100
       |),
       |idx AS (SELECT s.doc_id, s.shingle FROM shingles s JOIN capped USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------------

  val NumPerms = 16
  val BandRows = 4 // 4 bands x 4 rows

  /** Universal-hashing MinHash: one md5-derived base hash per shingle,
    * permuted by 16 fixed affine maps over the Mersenne prime P = 2^31-1:
    * slot p = min over shingles of ((a_p * h31 + b_p) mod P). All terms
    * stay below 2^62, so the arithmetic is bit-identical in DuckDB BIGINT.
    */
  private val P31 = 2147483647L // 2^31 - 1
  private def affineA(p: Int): Long = ((p + 1) * 2654435761L) % P31 // Knuth multiplier
  private def affineB(p: Int): Long = ((p + 1) * 1013904223L) % P31 // Numerical-Recipes inc

  /** Banded MinHash signatures — (doc_id, sig, band, band_sig), the shared
    * candidate-generation core of [[minhashLsh]], [[cluster]] and
    * [[incremental]].
    */
  private def minhashBands(spark: SparkSession, dir: String): DataFrame =
    minhashBandsOf(shingles(spark, dir))

  private[operators] def minhashBandsOf(sh: DataFrame): DataFrame = {
    val numBands = NumPerms / BandRows
    val hashes = (0 until NumPerms)
      .map(p => s"(${affineA(p)}L * h31 + ${affineB(p)}L) % ${P31}L").mkString("array(", ", ", ")")
    // Hash only DISTINCT shingles (dictionary), then join back to the doc
    // index: md5 work drops by the corpus' shingle-repetition factor.
    // Measured against inline per-row hashing at sf0.1: 5.6 s vs 8.2 s —
    // md5 dominates the extra distinct+join shuffles (and motivated the
    // 16-md5 -> 1-md5 affine scheme above).
    val hashed = sh.select("shingle").distinct()
      .selectExpr("shingle", s"${hash60("shingle")} % ${P31}L AS h31")
      .selectExpr("shingle", s"$hashes AS hs")
    // element-wise array min via 16 scalar min aggregates -> signature array.
    // No broadcast hint: the distinct-shingle dictionary grows with corpus
    // vocabulary (unbounded at 100 TB); AQE broadcasts it when it's actually
    // small.
    val sig = sh.join(hashed, "shingle")
      .groupBy("doc_id")
      .agg(array((0 until NumPerms).map(i => min(element_at(col("hs"), i + 1))): _*).as("sig"))
    // band b holds slots {p : p % numBands == b}, ordered by p (matches the
    // oracle's string_agg ... ORDER BY p)
    def bandSig(b: Int): org.apache.spark.sql.Column =
      concat_ws(",", (b until NumPerms by numBands)
        .map(p => element_at(col("sig"), p + 1).cast("string")): _*)
    // The signature array RIDES ALONG through the band explosion, so the
    // candidate self-join yields both signatures directly and `sig` is
    // consumed exactly once — no cache (a cached sig leaked across the
    // 30-query benchmark session) and no join-back. Cost: 4 extra longs x 16
    // per band row through one shuffle (~512 B/doc); the two identical band
    // subplans collapse into one computed exchange via ReuseExchange.
    sig.select(col("doc_id"), col("sig"), explode(array((0 until numBands).map(b =>
      struct(lit(b).as("band"), bandSig(b).as("band_sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("sig"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
  }

  /** Slot-agreement similarity estimate from two signature arrays. */
  private[operators] def estSimCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / NumPerms

  /** 16-slot MinHash signatures (affine permutations of one base hash per
    * shingle), banded 4x4; candidate pairs share at least one band bucket;
    * est_sim = matching slots / 16. The full LSH pipeline: signature build
    * is one shuffle on (doc, perm); banding one shuffle on band key; no
    * cross join.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(spark, dir)
    // est_sim from the two signature arrays directly (no slot explosion);
    // distinct dedupes multi-band collisions (sig_a/sig_b are functionally
    // dependent on the doc ids, so they don't change the distinct key)
    val est = bands.as("a").join(bands.as("b"), Seq("band", "band_sig"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("est_sim", estSimCol(col("sig_a"), col("sig_b")))
      .select("doc_a", "doc_b", "est_sim")
    est.orderBy("doc_a", "doc_b")
  }

  // The minhash CTE chain (shingles -> sig -> bands -> cands) and the
  // est_sim projection, defined ONCE and composed into both the
  // dedup_minhash_lsh oracle and the dedup_cluster oracle — a second copy
  // of the pair semantics would let the two oracles drift apart silently.
  private[operators] val minhashSigBandsCte: String =
    s"""$shinglesCte,
       |sig AS (
       |  SELECT doc_id, p,
       |    min(((((p + 1) * 2654435761) % $P31)
       |         * (CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % $P31)
       |         + ((p + 1) * 1013904223) % $P31) % $P31) AS minh
       |  FROM shingles, range(0, $NumPerms) r(p)
       |  GROUP BY doc_id, p
       |),
       |bands AS (
       |  SELECT doc_id, p % ${NumPerms / BandRows} AS band,
       |    string_agg(CAST(minh AS VARCHAR), ',' ORDER BY p) AS band_sig
       |  FROM sig GROUP BY doc_id, band
       |)""".stripMargin

  private val minhashCandsCte: String =
    s"""$minhashSigBandsCte,
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
       |    AND a.doc_id < b.doc_id
       |)""".stripMargin

  private val estSimSelect: String =
    s"""SELECT doc_a, doc_b,
       |  CAST(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
       |FROM cands
       |JOIN sig sa ON sa.doc_id = doc_a
       |JOIN sig sb ON sb.doc_id = doc_b AND sb.p = sa.p
       |GROUP BY doc_a, doc_b""".stripMargin

  val minhashLshOracle: String =
    s"""WITH $minhashCandsCte
       |$estSimSelect
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------------
  // Incremental dedup: new batch vs existing corpus
  // -------------------------------------------------------------------------

  /** An incoming doc whose best corpus match estimates at or above this is
    * a near-duplicate of the corpus and is dropped.
    */
  val IncrDupSim = 0.5

  /** The daily-ingest shape of near-dup dedup: a NEW batch of documents is
    * checked against the EXISTING corpus, and only cross-side pairs are
    * generated — never incoming x incoming or corpus x corpus, so the
    * candidate volume scales with the batch, not the corpus. The split here
    * is deterministic (doc_id % 10 >= 8 is the incoming 20%) so the whole
    * operator has a DuckDB oracle; a production pipeline would instead
    * PERSIST the corpus band table (it is keyed, fixed-width per doc) and
    * join each day's batch bands against it — the plan below is exactly
    * that join, with the corpus bands derived on the fly.
    *
    * Output, one row per incoming doc: `keep` (no corpus match at
    * est_sim >= [[IncrDupSim]]), best corpus match id (-1 if no candidate)
    * and its est_sim (0.0 if none). Ties on est_sim break to the lowest
    * corpus doc id, so the result is deterministic; est_sim values are
    * k/16 (exact binary fractions), so the double equality the tie-break
    * relies on is bit-safe in both engines.
    */
  /** Single-column join key `band:band_sig` — injective because the band
    * number contains no ':' and band_sig is comma-joined digits. One string
    * key (instead of the (band, band_sig) pair) is what lets the persisted
    * corpus table bucket on it directly.
    */
  private def bandKey = concat_ws(":", col("band"), col("band_sig")).as("band_key")

  /** Band-keyed signature rows for an arbitrary (doc_id, text) relation —
    * the unit of work an ingest computes for each new batch.
    */
  private[graft] def bandKeysOf(docsDf: DataFrame): DataFrame =
    minhashBandsOf(shinglesOf(docsDf))
      .select(bandKey, col("doc_id"), col("sig"))

  /** The deterministic 80/20 corpus/incoming split — the SINGLE definition
    * every incremental path (derive-on-the-fly, persisted-table, oracle
    * fixtures) shares; editing the split fraction here keeps them all in
    * sync. The oracle SQL mirrors the same predicate.
    */
  private[graft] def corpusDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(col("doc_id") % 10 < 8)

  private[graft] def incomingDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(col("doc_id") % 10 >= 8)

  private[graft] def incomingBandKeys(spark: SparkSession, dir: String): DataFrame =
    bandKeysOf(incomingDocs(spark, dir))

  private[graft] def corpusBandKeys(spark: SparkSession, dir: String): DataFrame =
    bandKeysOf(corpusDocs(spark, dir))

  /** Candidate (incoming, corpus) pairs from a band-bucket equi-join.
    * Incoming side small: AQE broadcasts it when a day's batch fits, and
    * falls back to a keyed shuffle when it doesn't.
    */
  private[graft] def candidatePairs(incoming: DataFrame, corpus: DataFrame): DataFrame =
    incoming.as("i").join(corpus.as("c"), "band_key")
      .select(col("i.doc_id").as("doc_id"), col("c.doc_id").as("corp_doc"),
        col("i.sig").as("sig_i"), col("c.sig").as("sig_c"))

  /** Per-new-doc verdict for an arbitrary batch of (doc_id, text) rows
    * against a corpus band relation — the reusable core of the batch
    * operator, the persisted-table path and the streaming ingest.
    */
  private[graft] def verdictFor(newDocs: DataFrame, corpusBands: DataFrame): DataFrame =
    verdictFromBands(newDocs.select("doc_id"), bandKeysOf(newDocs), corpusBands)

  /** [[verdictFor]] with the batch's band rows supplied by the caller —
    * the streaming path computes them ONCE, persists them, and reuses the
    * same rows for both the verdict join and the admission append
    * (shingling + minhashing dominates per-ingest cost; paying it twice
    * per batch doubled the hot path).
    */
  private[graft] def verdictFromBands(newIds: DataFrame, newBands: DataFrame,
      corpusBands: DataFrame): DataFrame = {
    val cand = candidatePairs(newBands, corpusBands)
      .distinct()
      .withColumn("est_sim", estSimCol(col("sig_i"), col("sig_c")))
    // argmax by (est_sim, -corp_doc): best match, ties to lowest corpus id
    val best = cand.groupBy("doc_id")
      .agg(max(struct(col("est_sim"), (-col("corp_doc")).as("neg_doc"))).as("b"))
      .select(col("doc_id"), col("b.est_sim").as("match_sim"),
        (-col("b.neg_doc")).as("match_doc"))
    newIds
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("match_sim"), lit(0.0)) < IncrDupSim).as("keep"),
        coalesce(col("match_doc"), lit(-1L)).as("match_doc"),
        coalesce(col("match_sim"), lit(0.0)).as("match_sim"))
      .orderBy("doc_id")
  }

  def incremental(spark: SparkSession, dir: String): DataFrame =
    verdictFor(incomingDocs(spark, dir), corpusBandKeys(spark, dir))

  /** Persist the corpus band table BUCKETED by the band key — the artifact
    * a production incremental pipeline maintains between ingests. Each
    * day's batch then joins against it with no shuffle on the corpus side
    * (see [[incrementalAgainst]]): the corpus' band rows are already
    * hash-placed by band_key on disk, so only the (small) batch moves.
    */
  def persistCorpusBands(spark: SparkSession, dir: String, table: String,
      buckets: Int = 16): Unit =
    corpusBandKeys(spark, dir)
      .write.mode("overwrite").bucketBy(buckets, "band_key").saveAsTable(table)

  /** [[incremental]] against a pre-persisted corpus band table: identical
    * verdicts, but the corpus is never re-shingled, re-hashed, or
    * re-shuffled — the only per-ingest work is the batch's own signatures
    * plus one co-located join.
    */
  def incrementalAgainst(spark: SparkSession, dir: String, table: String): DataFrame =
    verdictFor(incomingDocs(spark, dir), spark.table(table))

  /** STREAMING incremental dedup: each micro-batch of new (doc_id, text)
    * documents is signature-hashed and joined against the persisted corpus
    * band table, and its verdicts are handed to `sink` (append semantics —
    * a verdict never changes once emitted, because it depends only on the
    * doc itself and the corpus snapshot). This is the full daily-ingest
    * loop running continuously: the corpus is never recomputed, per-batch
    * work is proportional to the batch. Admitted keepers would then be
    * appended to the corpus band table out-of-band (a compaction-style
    * maintenance job, not the hot path).
    *
    * `checkpointLocation` pins the query's offset log: the append
    * contract ("a verdict never changes once emitted") only survives a
    * crash if the restarted query resumes from the recorded offsets —
    * with only a temporary checkpoint, a restart replays the source from
    * scratch and re-emits every verdict as a duplicate. Production
    * callers must pass it; tests that never restart may omit it.
    */
  def incrementalStream(newDocs: DataFrame, corpusTable: String,
      checkpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newDocs, checkpointLocation)(b =>
      sink(verdictFor(b, b.sparkSession.table(corpusTable))))

  /** ADMISSION — the maintenance step that closes the ingest loop: the
    * band rows of a batch's kept documents are appended to the persisted
    * corpus band table, so the NEXT ingest's verdicts see them as corpus.
    * Returns the number of documents admitted.
    *
    * The append preserves the table's bucket layout (bucket count is read
    * from the catalog and re-declared, which Spark validates against the
    * existing spec), so the per-ingest join stays shuffle-free on the
    * corpus side forever — the corpus grows, its placement invariant
    * doesn't. Each append adds at most one file per bucket; a compaction
    * pass (see sinks) folds them when small files accumulate. Run this
    * AFTER the batch's verdicts are emitted, never concurrently with
    * them: verdicts are defined against the pre-batch snapshot, and
    * admitting mid-batch would make them order-dependent.
    */
  def admitToCorpus(newDocs: DataFrame, verdicts: DataFrame, table: String): Long =
    admitBands(bandKeysOf(newDocs.select("doc_id", "text")), verdicts, table)

  /** [[admitToCorpus]] with the batch's band rows supplied by the caller
    * (the streaming path reuses the cached rows it computed for the
    * verdict join instead of re-shingling the batch).
    */
  private[graft] def admitBands(newBands: DataFrame, verdicts: DataFrame,
      table: String): Long = {
    val spark = newBands.sparkSession
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(s"$table is not a bucketed band table"))
    // materialize the kept set BEFORE touching the table: `verdicts` is
    // typically a lazy plan over the very table this appends to, so any
    // post-append evaluation would see the grown corpus (every keeper
    // then matches itself) — pin the pre-append answer in the cache
    val kept = verdicts.filter(col("keep")).select("doc_id").persist()
    try {
      val nKept = kept.count()
      newBands.join(kept, "doc_id")
        .select("band_key", "doc_id", "sig") // append resolves by position
        .write.mode("append")
        .bucketBy(buckets, "band_key").saveAsTable(table)
      nKept
    } finally { kept.unpersist(); () }
  }

  /** The SELF-GROWING streaming form: each micro-batch is judged against
    * the current corpus, its verdicts go to `sink`, and its keepers are
    * then admitted — so batch N+1 dedups against everything batch 1..N
    * kept. This is continuous dedup's real semantics: verdicts depend on
    * arrival order by design (the first copy wins, later copies are
    * flagged), unlike [[incrementalStream]] whose fixed corpus makes every
    * verdict order-free.
    *
    * Crash semantics: foreachBatch is at-least-once, so a replayed batch
    * re-runs against a corpus that already contains its own keepers. The
    * verdict join therefore EXCLUDES the batch's own doc ids from the
    * corpus side (a broadcast anti-join on the tiny batch) — without it a
    * replayed keeper would match its own admitted band rows at sim 1.0
    * and be re-emitted as a duplicate of itself. With the exclusion, a
    * replay sees exactly the corpus the original run saw and re-emits the
    * same verdicts; the only replay residue is duplicate band rows in the
    * table, which the next [[compactCorpusBands]] pass drops. `sink` must
    * consume its verdicts before returning (they are cached only for the
    * duration of the call).
    *
    * The batch is shingled/minhashed ONCE: the cached band rows feed both
    * the verdict join and the admission append.
    */
  def incrementalStreamAdmitting(newDocs: DataFrame, corpusTable: String,
      checkpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newDocs, checkpointLocation) { batch =>
      val bands = bandKeysOf(batch.select("doc_id", "text")).persist()
      try {
        val verdicts = verdictFromBands(
          batch.select("doc_id"), bands,
          replaySafeCorpus(batch, corpusTable)).persist()
        try {
          sink(verdicts)
          admitBands(bands, verdicts, corpusTable); ()
        } finally { verdicts.unpersist(); () }
      } finally { bands.unpersist(); () }
    }

  /** The corpus as this batch must see it: minus any rows the batch
    * itself already admitted (an at-least-once replay) — broadcast
    * anti-join, so the corpus side never shuffles for it.
    */
  private[graft] def replaySafeCorpus(batch: DataFrame, corpusTable: String): DataFrame =
    batch.sparkSession.table(corpusTable)
      .join(broadcast(batch.select("doc_id")), Seq("doc_id"), "left_anti")

  /** Fold the per-append small files back to ONE file per bucket — the
    * maintenance pass that keeps the band table healthy under continuous
    * admission (every append adds up to a file per bucket; a year of
    * hourly ingests is ~9k files per bucket without this). DISTINCT also
    * drops the dead duplicate rows an at-least-once replay can leave.
    *
    * The rewrite swaps the table through [[graft.core.Commit.swapTable]],
    * whose torn state the next call, or any call after restart, promotes
    * before doing anything else.
    *
    * SINGLE-WRITER contract: compaction snapshots the table, so an
    * [[admitToCorpus]] append committing while the rewrite runs would be
    * silently dropped by the swap. Pause the admitting stream (or run
    * compaction from the same maintenance scheduler as admission, which
    * is how every LSM-style maintenance job serializes against its
    * writers) — never run the two concurrently.
    *
    * The explicit repartition on the bucket column aligns write tasks
    * with bucket ids — Spark's bucket id and repartition hashing are
    * both murmur3 pmod n — so each task emits exactly its one bucket
    * file. Returns (files before, files after).
    */
  def compactCorpusBands(spark: SparkSession, table: String): (Long, Long) =
    compactBucketedTable(spark, table, "band_key")

  /** [[compactCorpusBands]] for the substring family's window table. */
  def compactWindowTable(spark: SparkSession, table: String): (Long, Long) =
    compactBucketedTable(spark, table, "whash")

  /** Files-per-bucket threshold above which [[compactIfFragmented]] fires.
    * A freshly compacted table sits at 1.0; each streaming admit appends
    * up to one file per touched bucket, so the ratio counts the appends
    * since the last fold. 2.5 tolerates a couple of small appends (the
    * fold would cost more than the reads it saves) and fires before scan
    * task counts triple. Deployments tune it per ingest cadence.
    */
  val CompactMaxFilesPerBucket = 2.5

  /** THE SMALL-FILE MAINTENANCE TRIGGER — the fragmentation twin of the
    * index family's skew triggers (`Similarity.rebalanceIfSkewed` /
    * `retrainPqIfSkewed`): measure files-per-bucket from the table's file
    * listing (pure metadata — one namenode listing, zero data jobs) and
    * run the full [[compactBucketedTable]] fold only when it exceeds
    * `maxFilesPerBucket`. This is the decision a production LSM-style
    * maintenance scheduler makes every window: steady-state ingest pays
    * only the listing; the rewrite runs when accumulated appends have
    * actually degraded the table (a year of hourly admits is ~9k files
    * per bucket unfolded — scan task counts, listing latency, and
    * replay-duplicate rows all grow with it).
    *
    * Same SINGLE-WRITER contract as [[compactCorpusBands]]: call it from
    * the maintenance window between micro-batches, never concurrently
    * with the admitting stream. Returns (files-per-bucket ratio measured,
    * fired?).
    */
  def compactIfFragmented(spark: SparkSession, table: String, keyCol: String,
      maxFilesPerBucket: Double = CompactMaxFilesPerBucket): (Double, Boolean) =
    compactIfFragmentedWith(spark, table, maxFilesPerBucket)(
      () => { compactBucketedTable(spark, table, keyCol); () })

  /** [[compactIfFragmented]] with the FOLD supplied — the trigger is
    * index-family-generic (any bucketed table fragments the same way
    * under streaming appends), but the repair verb is not: dedup/phash
    * bands and IVF/PQ code tables fold with a plain distinct rewrite,
    * while BM25 goes through its marker-fenced compaction (the postings
    * rewrite must rebuild df/stats inside the fence). `fire` runs only
    * past the threshold; steady state pays one file listing.
    */
  def compactIfFragmentedWith(spark: SparkSession, table: String,
      maxFilesPerBucket: Double = CompactMaxFilesPerBucket)(
      fire: () => Unit): (Double, Boolean) = {
    val (buckets, files) = probeBucketed(spark, table)
    val ratio = files.toDouble / buckets
    if (ratio > maxFilesPerBucket) {
      fire(); (ratio, true)
    } else (ratio, false)
  }

  private[graft] def compactBucketedTable(spark: SparkSession, table: String,
      keyCol: String): (Long, Long) =
    rewriteBucketedTable(spark, table, keyCol)(_.distinct())

  // -------------------------------------------------------------------------
  // Right-to-be-forgotten for the dedup index
  // -------------------------------------------------------------------------

  private[graft] val CorpusFgTable = "dedup_fg_bands"

  /** RIGHT-TO-BE-FORGOTTEN for the dedup corpus index — the last persisted
    * index family without the verb (BM25, IVF and PQ have it): one atomic
    * bucket-aligned anti-join rewrite of the band table through the
    * [[rewriteBucketedTable]] fence (no derived stats ⇒ no marker window),
    * idempotent under re-forget. The dedup-specific contract is the
    * OBSERVABLE half: a forgotten document must stop suppressing
    * near-duplicate arrivals — its content becomes re-admittable. Ghost
    * suppression (deleting the text but keeping the signatures) would
    * keep the forgotten content effectively present, which is exactly
    * what a deletion request forbids.
    */
  def forgetCorpusDocs(spark: SparkSession, table: String,
      forgetIds: DataFrame): (Long, Long) =
    rewriteBucketedTable(spark, table, "band_key")(
      _.join(broadcast(forgetIds.select("doc_id")), Seq("doc_id"), "left_anti"))

  /** Continuous deletion for the dedup index: every micro-batch of
    * arriving forget requests is applied as one atomic anti-join rewrite —
    * the dedup twin of `bm25ForgetStream`/`ivfForgetStream`. Anti-joins
    * compose and re-apply idempotently, so any chunking or redelivery of
    * the deletion stream lands on the batch-forget band table.
    */
  def corpusForgetStream(forgetIds: DataFrame,
      table: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(forgetIds) { b => forgetCorpusDocs(b.sparkSession, table, b); () }

  /** `dedup_forget`: build the band table, forget EXACTLY the corpus docs
    * currently suppressing an arrival (the contested content — the shape
    * a real deletion wave has), and re-run the incremental verdicts.
    * Every previously-suppressed arrival must either become admitted or
    * match a DIFFERENT corpus doc, so the query is non-vacuous wherever
    * the fixture has any suppression at all. Build + derive + forget run
    * under the build-then-mutate staleness gate ([[graft.core.ModelTables
    * .persistGroupMutatedIfStale]]); steady-state calls pay only the
    * verdict join. The forget-set derivation and the anti-join rewrite
    * read the same pre-forget generation (the rewrite plans against the
    * canonical table before the swap), so the mutation is well-defined
    * and its retry re-derives an identical set.
    */
  def corpusForget(spark: SparkSession, dir: String): DataFrame = {
    graft.core.ModelTables.persistGroupMutatedIfStale(spark, dir,
      "dedup-forget:v1")(
      CorpusFgTable -> (() => persistCorpusBands(spark, dir, CorpusFgTable)))(
      () => {
        val v0 = incrementalAgainst(spark, dir, CorpusFgTable)
        forgetCorpusDocs(spark, CorpusFgTable,
          v0.filter(!col("keep")).select(col("match_doc").as("doc_id")).distinct())
        ()
      })
    incrementalAgainst(spark, dir, CorpusFgTable)
  }

  /** The incremental chain unrolled TWICE: level 0 derives the standard
    * verdicts, the forget set is the distinct match docs of level 0's
    * suppressions, and level 1 re-judges every arrival against the corpus
    * minus that set — the same induction style as [[ingestAdmitOracle]].
    */
  val corpusForgetOracle: String =
    s"""WITH $minhashSigBandsCte,
       |x0 AS (
       |  SELECT DISTINCT i.doc_id AS doc_id, c.doc_id AS corp_doc
       |  FROM bands i JOIN bands c ON i.band = c.band AND i.band_sig = c.band_sig
       |  WHERE i.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
       |),
       |s0 AS (
       |  SELECT x.doc_id, x.corp_doc,
       |    CAST(sum(CASE WHEN si.minh = sc.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
       |  FROM x0 x
       |  JOIN sig si ON si.doc_id = x.doc_id
       |  JOIN sig sc ON sc.doc_id = x.corp_doc AND sc.p = si.p
       |  GROUP BY x.doc_id, x.corp_doc
       |),
       |b0 AS (SELECT doc_id, max(est_sim) AS match_sim FROM s0 GROUP BY doc_id),
       |bm0 AS (
       |  SELECT b.doc_id, b.match_sim, min(x.corp_doc) AS match_doc
       |  FROM b0 b JOIN s0 x ON x.doc_id = b.doc_id AND x.est_sim = b.match_sim
       |  GROUP BY 1, 2
       |),
       |fg AS (
       |  SELECT DISTINCT match_doc AS doc_id FROM bm0
       |  WHERE match_sim >= CAST($IncrDupSim AS DOUBLE)
       |),
       |x1 AS (
       |  SELECT DISTINCT i.doc_id AS doc_id, c.doc_id AS corp_doc
       |  FROM bands i JOIN bands c ON i.band = c.band AND i.band_sig = c.band_sig
       |  WHERE i.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
       |    AND c.doc_id NOT IN (SELECT doc_id FROM fg)
       |),
       |s1 AS (
       |  SELECT x.doc_id, x.corp_doc,
       |    CAST(sum(CASE WHEN si.minh = sc.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
       |  FROM x1 x
       |  JOIN sig si ON si.doc_id = x.doc_id
       |  JOIN sig sc ON sc.doc_id = x.corp_doc AND sc.p = si.p
       |  GROUP BY x.doc_id, x.corp_doc
       |),
       |b1 AS (SELECT doc_id, max(est_sim) AS match_sim FROM s1 GROUP BY doc_id),
       |bm1 AS (
       |  SELECT b.doc_id, b.match_sim, min(x.corp_doc) AS match_doc
       |  FROM b1 b JOIN s1 x ON x.doc_id = b.doc_id AND x.est_sim = b.match_sim
       |  GROUP BY 1, 2
       |)
       |SELECT d.doc_id,
       |  coalesce(bm1.match_sim, CAST(0.0 AS DOUBLE)) < CAST($IncrDupSim AS DOUBLE) AS keep,
       |  CAST(coalesce(bm1.match_doc, -1) AS BIGINT) AS match_doc,
       |  coalesce(bm1.match_sim, CAST(0.0 AS DOUBLE)) AS match_sim
       |FROM documents d LEFT JOIN bm1 ON bm1.doc_id = d.doc_id
       |WHERE d.doc_id % 10 >= 8
       |ORDER BY d.doc_id""".stripMargin

  /** The general atomic rewrite behind [[compactBucketedTable]] (transform
    * = distinct) and the forget family's anti-join rewrites: snapshot the
    * bucketed table, apply `transform`, write bucket-aligned and swap it
    * in ([[Commit.swapTable]], SINGLE-WRITER). The transform must be
    * deterministic and must not read the table it replaces through any
    * path other than the frame passed to it (the snapshot is the frame).
    */
  private[graft] def rewriteBucketedTable(spark: SparkSession, table: String,
      keyCol: String)(transform: DataFrame => DataFrame): (Long, Long) = {
    val (buckets, before) = probeBucketed(spark, table)
    // re-select the original column order: a USING-join transform moves
    // its key to the front, and the rewritten generation must keep the
    // table's declared schema
    val cols = spark.table(table).columns
    Commit.swapTable(spark, table)(transform(spark.table(table))
      .select(cols.map(col).toIndexedSeq: _*)
      .repartition(buckets, col(keyCol))
      .write.bucketBy(buckets, keyCol).saveAsTable(_))
    (before, probeBucketed(spark, table)._2)
  }

  /** A bucketed table's (bucket count, part-file count). Every entry point
    * that reads the table's metadata (the rewrite, [[compactIfFragmented]]'s
    * trigger) probes through here, so it first promotes a torn swap — the
    * metadata read would otherwise throw NoSuchTableException before any
    * recovery could run — and refreshes the listing: a session that read
    * this table earlier holds its file listing in the catalog's relation
    * cache, and streaming foreachBatch APPENDS (the admit verbs) do not
    * invalidate it — a rewrite planned against the stale listing would
    * silently DROP every row appended since that read (found live: the
    * ivf-policy gate's maintenance windows read the index between admit
    * chunks, and the later forget rewrite lost chunks 2-3).
    */
  private def probeBucketed(spark: SparkSession, table: String): (Int, Long) = {
    Commit.promoteTorn(spark, table)
    spark.catalog.refreshTable(table)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(s"$table is not a bucketed table"))
    val p = new org.apache.hadoop.fs.Path(meta.location)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (buckets, fs.listStatus(p).count(_.getPath.getName.startsWith("part-")).toLong)
  }

  val incrementalOracle: String =
    s"""WITH $minhashSigBandsCte,
       |xcands AS (
       |  SELECT DISTINCT i.doc_id AS doc_id, c.doc_id AS corp_doc
       |  FROM bands i JOIN bands c ON i.band = c.band AND i.band_sig = c.band_sig
       |  WHERE i.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
       |),
       |xsim AS (
       |  SELECT x.doc_id, x.corp_doc,
       |    CAST(sum(CASE WHEN si.minh = sc.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
       |  FROM xcands x
       |  JOIN sig si ON si.doc_id = x.doc_id
       |  JOIN sig sc ON sc.doc_id = x.corp_doc AND sc.p = si.p
       |  GROUP BY x.doc_id, x.corp_doc
       |),
       |best AS (SELECT doc_id, max(est_sim) AS match_sim FROM xsim GROUP BY doc_id),
       |bm AS (
       |  SELECT b.doc_id, b.match_sim, min(x.corp_doc) AS match_doc
       |  FROM best b JOIN xsim x ON x.doc_id = b.doc_id AND x.est_sim = b.match_sim
       |  GROUP BY 1, 2
       |)
       |SELECT d.doc_id,
       |  coalesce(bm.match_sim, CAST(0.0 AS DOUBLE)) < CAST($IncrDupSim AS DOUBLE) AS keep,
       |  CAST(coalesce(bm.match_doc, -1) AS BIGINT) AS match_doc,
       |  coalesce(bm.match_sim, CAST(0.0 AS DOUBLE)) AS match_sim
       |FROM documents d LEFT JOIN bm ON bm.doc_id = d.doc_id
       |WHERE d.doc_id % 10 >= 8
       |ORDER BY d.doc_id""".stripMargin

  /** The ingest-gate's augmented arrival stream: every incoming doc,
    * followed by a RE-SUBMISSION of the same text under doc_id + offset
    * (offset = max doc id + 1). The fixture's duplicate groups never put
    * two copies in the incoming split with shared bands, so without the
    * re-submissions the self-growing loop could not change a single
    * verdict (a vacuous green); with them, every kept original's copy
    * must match the ADMITTED band rows at sim 1.0. The offset exceeds
    * the id range, so under the 3-chunk range split a copy provably
    * lands ≥1 chunk after its original (chunk delta ≥ ⌊3·off/(off+R)⌋
    * = 1 since off > R).
    */
  private[graft] def ingestArrivals(spark: SparkSession, dir: String): DataFrame = {
    val inc = incomingDocs(spark, dir)
    val off = docs(spark, dir).agg(max(col("doc_id"))).head().getLong(0) + 1
    inc.unionByName(inc.withColumn("doc_id", col("doc_id") + lit(off)))
  }

  /** Oracle for the SELF-GROWING ingest loop (StreamGate.ingestAdmit):
    * the augmented arrivals ([[ingestArrivals]] — originals + offset
    * re-submissions) land in 3 chunks (range-of-doc_id, the same integer
    * formula the gate's chunk writer uses), and chunk k's verdicts are
    * judged against the 80% corpus PLUS the keepers of chunks < k — the
    * arrival-order semantics continuous dedup actually has. The
    * induction is unrolled per chunk: eligible candidates grow by the
    * previous levels' kept sets. Re-submissions share their original's
    * signature, so sims are computed via the src mapping.
    */
  val ingestAdmitOracle: String = {
    val levels = (0 until 3).map { k =>
      val elig = ("c.is_corp" +:
        (0 until k).map(j => s"c.corp_doc IN (SELECT doc_id FROM kept$j)"))
        .mkString("(", " OR ", ")")
      s"""e$k AS (
         |  SELECT c.doc_id, c.corp_doc, c.est_sim FROM xsim c
         |  JOIN chunked ci ON ci.doc_id = c.doc_id AND ci.chunk = $k
         |  WHERE $elig
         |),
         |best$k AS (SELECT doc_id, max(est_sim) AS match_sim FROM e$k GROUP BY doc_id),
         |bm$k AS (
         |  SELECT b.doc_id, b.match_sim, min(x.corp_doc) AS match_doc
         |  FROM best$k b JOIN e$k x ON x.doc_id = b.doc_id AND x.est_sim = b.match_sim
         |  GROUP BY 1, 2
         |),
         |v$k AS (
         |  SELECT ch.doc_id,
         |    coalesce(bm$k.match_sim, CAST(0.0 AS DOUBLE)) < CAST($IncrDupSim AS DOUBLE) AS keep,
         |    CAST(coalesce(bm$k.match_doc, -1) AS BIGINT) AS match_doc,
         |    coalesce(bm$k.match_sim, CAST(0.0 AS DOUBLE)) AS match_sim
         |  FROM chunked ch LEFT JOIN bm$k ON bm$k.doc_id = ch.doc_id
         |  WHERE ch.chunk = $k
         |),
         |kept$k AS (SELECT doc_id FROM v$k WHERE keep)""".stripMargin
    }.mkString(",\n")
    s"""WITH $minhashSigBandsCte,
       |inc AS (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8),
       |voff AS (SELECT max(doc_id) + 1 AS o FROM documents),
       |aug AS (
       |  SELECT doc_id, doc_id AS src FROM inc
       |  UNION ALL SELECT doc_id + o AS doc_id, doc_id AS src FROM inc, voff
       |),
       |bnd AS (SELECT min(doc_id) AS t0,
       |               greatest(1, max(doc_id) - min(doc_id) + 1) AS span FROM aug),
       |chunked AS (
       |  SELECT doc_id, src, CAST((doc_id - t0) * 3 // span AS INT) AS chunk
       |  FROM aug, bnd
       |),
       |xcands AS (
       |  -- corpus candidates (always eligible) via band equality of srcs
       |  SELECT DISTINCT ci.doc_id, ci.src AS isrc,
       |    bc.doc_id AS corp_doc, bc.doc_id AS csrc, TRUE AS is_corp
       |  FROM chunked ci
       |  JOIN bands bi ON bi.doc_id = ci.src
       |  JOIN bands bc ON bc.band = bi.band AND bc.band_sig = bi.band_sig
       |  WHERE bc.doc_id % 10 < 8
       |  UNION
       |  -- earlier-chunk arrivals (eligible once kept/admitted)
       |  SELECT DISTINCT ci.doc_id, ci.src AS isrc,
       |    cj.doc_id AS corp_doc, cj.src AS csrc, FALSE AS is_corp
       |  FROM chunked ci
       |  JOIN bands bi ON bi.doc_id = ci.src
       |  JOIN bands bc ON bc.band = bi.band AND bc.band_sig = bi.band_sig
       |  JOIN chunked cj ON cj.src = bc.doc_id AND cj.chunk < ci.chunk
       |),
       |xsim AS (
       |  SELECT x.doc_id, x.corp_doc, x.is_corp,
       |    CAST(sum(CASE WHEN si.minh = sc.minh THEN 1 ELSE 0 END) AS DOUBLE) / $NumPerms AS est_sim
       |  FROM xcands x
       |  JOIN sig si ON si.doc_id = x.isrc
       |  JOIN sig sc ON sc.doc_id = x.csrc AND sc.p = si.p
       |  GROUP BY x.doc_id, x.corp_doc, x.is_corp
       |),
       |$levels
       |SELECT doc_id, keep, match_doc, match_sim FROM (
       |  SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
       |)
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Near-dup clusters (connected components) + canonical doc per cluster
  // -------------------------------------------------------------------------

  /** Pairs with est_sim below this are LSH candidate noise, not dup edges. */
  val ClusterMinSim = 0.5

  /** Safety bound on propagation rounds. With the pointer-jump step each
    * round roughly halves the remaining label-chain length, so convergence
    * is O(log diameter) and 64 rounds covers any representable graph —
    * hitting this bound means a bug, not a big graph.
    */
  private val MaxClusterRounds = 64

  /** Near-duplicate CLUSTERS: connected components over the MinHash/LSH
    * pair graph (est_sim >= [[ClusterMinSim]]), labeled by the minimum
    * doc_id reachable — the step a real dedup pipeline runs after pair
    * generation, because near-duplication is transitive in the data even
    * though the pair relation isn't (a~b, b~c usually means a,b,c are one
    * duplicated document). Each member row also carries the cluster's
    * CANONICAL doc (longest member, ties to the lowest doc_id) and member
    * count — i.e. the output IS the keep/drop list: keep where
    * doc_id = canonical_doc.
    *
    * Distributed min-label propagation with pointer jumping: each round
    * every vertex takes the min of its own and its neighbors' labels (one
    * join on vertex id + one min-aggregate), then adopts the label OF its
    * new label (one more join) — the classic shortcut step, so a length-L
    * label chain collapses in O(log L) rounds instead of O(L) and even a
    * pathological near-dup chain of thousands of documents converges in a
    * few dozen rounds. All steps are shuffle-on-key DataFrame ops, no
    * driver data; each round `localCheckpoint`s the label table so round
    * N's plan doesn't replay rounds 1..N-1 (at cluster scale, swap for
    * `checkpoint` against a reliable dir — same contract,
    * executor-loss-safe). The driver sees only the changed-label COUNT per
    * round (convergence probe).
    */
  def cluster(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir)
      .filter(col("est_sim") >= ClusterMinSim)
      .select("doc_a", "doc_b")
    // undirected: propagate both ways
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .persist()
    val members = try {
      // fused round 0: seed each vertex with min(own id, min neighbor id)
      // instead of just its own id — one aggregate replaces what would
      // otherwise be the first (and codegen-cold, so most expensive) loop
      // round; the fixpoint is unchanged because min-label propagation is
      // monotone and this seeding sits between the identity labeling and
      // the fixpoint
      var labels = edges.groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), min(col("src"))).as("label"))
        .localCheckpoint()
      var round = 0
      var changed = 1L
      while (changed > 0) {
        round += 1
        if (round > MaxClusterRounds)
          throw new IllegalStateException(s"label propagation did not converge in $MaxClusterRounds rounds")
        val nbrMin = edges
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .groupBy("src").agg(min("label").as("nmin"))
        val hooked = labels
          .join(nbrMin.withColumnRenamed("src", "id"), "id") // every vertex has a neighbor
          .select(col("id"), col("label").as("old_label"),
            least(col("label"), col("nmin")).as("mid"))
        // pointer jump: labels are themselves vertex ids, so look up the
        // current label of my tentative label and adopt it if smaller
        val updated = hooked
          .join(labels.select(col("id").as("mid_id"), col("label").as("jump")),
            col("mid") === col("mid_id"), "left")
          .select(col("id"), col("old_label"),
            least(col("mid"), coalesce(col("jump"), col("mid"))).as("label"))
          .localCheckpoint()
        changed = updated.filter(col("label") =!= col("old_label")).count()
        labels = updated.select("id", "label")
      }
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    } finally {
      edges.unpersist()
    }
    // canonical member per cluster: lexicographic min of (negated length,
    // id) IS the (max length, then min id) argmin — no window sort
    val stats = members
      .join(docs(spark, dir).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy("cluster_id")
      .agg(
        min(struct((-col("n_chars")).as("neg_chars"), col("doc_id").as("d"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("best.d").as("canonical_doc"), col("n_members"))
    members.join(stats, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("canonical_doc"), col("n_members"))
      .orderBy("doc_id")
  }

  /** The minhash pipeline's pair set + transitive closure, as one
    * recursive-CTE oracle: `walk` enumerates every label reachable from a
    * vertex, min per vertex = the component label.
    */
  private val clusterCte: String =
    s"""sim_pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    ${estSimSelect.replace("\n", "\n    ")}
       |  ) WHERE est_sim >= $ClusterMinSim
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM sim_pairs
       |  UNION SELECT doc_b, doc_a FROM sim_pairs
       |),
       |walk(id, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, w.lab FROM edges e JOIN walk w ON w.id = e.dst
       |),
       |clusters AS (
       |  SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id
       |)""".stripMargin

  val clusterOracle: String =
    s"""WITH RECURSIVE $minhashCandsCte,
       |$clusterCte,
       |joined AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars
       |  FROM clusters c JOIN documents d USING (doc_id)
       |),
       |canon AS (
       |  SELECT cluster_id, doc_id AS canonical_doc FROM (
       |    SELECT cluster_id, doc_id,
       |      row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
       |    FROM joined
       |  ) WHERE rn = 1
       |),
       |counts AS (SELECT cluster_id, count(*) AS n_members FROM joined GROUP BY cluster_id)
       |SELECT j.doc_id, j.cluster_id, c.canonical_doc, m.n_members
       |FROM joined j
       |JOIN canon c USING (cluster_id)
       |JOIN counts m USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------------

  /** 60-bit SimHash over word unigrams weighted by term frequency: bit j is
    * the sign of sum over tokens of tf * (2*bit_j(hash60(token)) - 1).
    * The 60 per-bit sums run as 60 conditional-sum columns in ONE hash
    * aggregate over the (doc, token) rows — exploding a (doc, bit) row per
    * bit instead (the naive shape) put 60x the rows through the shuffle and
    * was the bottleneck at 20x scale (40 s -> ~3 s).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS token")
    // no broadcast hint: token vocabulary is corpus-dependent; AQE
    // broadcasts when the dictionary is actually small
    val hashedTokens = toks.select("token").distinct()
      .selectExpr("token", s"${hash60("token")} AS h")
    val tf = toks
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .join(hashedTokens, "token")
      .select("doc_id", "tf", "h")
    val bitSums = (0 until 60).map(j =>
      sum(when(expr(s"shiftright(h, $j) & 1") === 1, col("tf")).otherwise(-col("tf"))).as(s"s$j"))
    val packed = (0 until 60).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    tf.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
      .orderBy("doc_id")
  }

  val simhashOracle: String =
    """WITH tf AS (
      |  SELECT doc_id, token, count(*) AS tf,
      |    CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY doc_id, token
      |),
      |bits AS (
      |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN tf ELSE -tf END) AS s
      |  FROM tf, range(0, 60) r(j)
      |  GROUP BY doc_id, j
      |)
      |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Sub-document exact-substring dedup (content-anchored token windows)
  // -------------------------------------------------------------------------

  /** Token-window width for [[substring]], and the anchor set that decides
    * where windows start. A window begins at every token whose md5 starts
    * with a hex digit in [[SubstrAnchorHex]] (4 of 16 digits → expected
    * anchor gap 4). Anchoring on CONTENT, not position, is what makes the
    * scheme alignment-free (winnowing/MOSS-style fingerprint selection):
    * the same token run produces the same window starts in every document
    * that contains it, wherever it sits. A naive fixed stride S from the
    * document head cannot do this — two copies of a run whose offsets
    * differ by a non-multiple of S NEVER produce a common window. Expected
    * detection: a shared run of >= W + gap tokens collides whenever it
    * contains an anchor with W tokens of run left (miss probability decays
    * as (3/4)^(run - W + 1) — content-determined, not adversary-placeable
    * by shifting).
    */
  val SubstrWindow = 8
  val SubstrAnchorHex: Seq[String] = Seq("0", "4", "8", "c")

  /** Probe docs unioned into the substring-dedup input on BOTH engines.
    * The synthetic corpus does share real phrase runs (small generator
    * vocabulary), but none of them pin the EDGE semantics, so the probes
    * add deterministic cases:
    * 9100001/9100002 — exact copies (every window duplicated, ratio 1.0);
    * 9100003 — shares the first 16 tokens of 9100001, then diverges
    * (partial ratio); 9100004 — contains 9100001's tokens 3..18 shifted to
    * a different document offset — the case position-strided windowing
    * misses and content anchoring must catch; 9100005 — shorter than one
    * window (zero windows, ratio 0 by fiat).
    */
  private[graft] val substringProbes: Seq[(Long, String)] = {
    val base = (1 to 24).map(i => f"probetok$i%02d")
    Seq(
      9100001L -> base.mkString(" "),
      9100002L -> base.mkString(" "),
      9100003L -> (base.take(16) ++ (1 to 8).map(i => f"divergent$i%02d")).mkString(" "),
      9100004L -> ((1 to 4).map(i => f"prefix$i%02d") ++ base.slice(2, 18)).mkString(" "),
      9100005L -> "tiny doc five tokens only")
  }

  /** SUB-DOCUMENT EXACT-SUBSTRING DEDUP — the granularity document-level
    * dedup cannot see (boilerplate headers, license blocks, quoted chunks
    * shared across otherwise-distinct pages). Every doc is cut into
    * [[SubstrWindow]]-token windows starting at content-defined anchor
    * tokens (see [[SubstrAnchorHex]]); a window whose md5 appears in >= 2
    * DISTINCT docs is corpus-duplicated; a doc whose duplicated-window
    * ratio reaches 0.5 is flagged. This is the fingerprinted form of
    * suffix-array training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better") — content-anchored
    * windows replace suffixes so the whole thing is two hash shuffles
    * instead of a global suffix sort.
    *
    * Scale shape: the explode is map-side (O(tokens/gap) rows, each a
    * 16-byte hash + id — window TEXT never leaves the map stage, only its
    * md5); one shuffle groups by window hash (two-level agg, no hot key:
    * a window shared by millions of docs still reduces to one count);
    * one shuffle joins verdicts back and re-groups by doc. No pairwise
    * comparisons anywhere, so a window duplicated N times costs O(N), not
    * O(N^2).
    */
  /** Anchored window occurrences (start + hash) of arbitrary
    * (doc_id, text) rows — the ONE definition of the windowing scheme,
    * shared by the batch detector, the scrub, and the incremental/
    * streaming paths so they can never drift apart. The kernel is the
    * fused codegen'd [[graft.functions.AnchoredWindowHashes]] expression
    * (one pass: tokenize, per-token anchor md5, per-window md5) — the
    * equivalent filter+transform higher-order-function stack evaluates
    * interpreted with a lambda frame and an md5 invocation per token,
    * which was the family's whole map-stage cost (measured ~2x).
    */
  private[graft] def windowOccurrencesOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(graft.functions.FastFunctions.anchored_window_hashes(
          col("text"), SubstrWindow, SubstrAnchorHex.mkString)).as("w"))
      .select(col("doc_id"), col("w.i").as("i"), col("w.whash").as("whash"))

  private[graft] def windowHashesOf(d: DataFrame): DataFrame =
    windowOccurrencesOf(d).select("doc_id", "whash")

  def substring(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = docs(spark, dir).select("doc_id", "text")
      .union(substringProbes.toDF("doc_id", "text"))
    val wins = windowHashesOf(corpus)
    // Linear pipeline, ONE tokenize pass: the naive "counts = wins.groupBy
    // (whash); wins.join(counts)" reads `wins` through two different
    // exchanges, so Catalyst cannot ReuseExchange and the whole
    // tokenize+md5 stage runs twice (measured 8-9 s steady-state at sf0.1
    // vs ~4.5 s for this shape). Pre-aggregating to (whash, doc_id) rows
    // first also means the whash-partition window sees one row per doc —
    // its count IS the distinct-doc count — and a window shared by N docs
    // costs O(N), no pairwise work.
    val winCounts = wins.groupBy("whash", "doc_id")
      .agg(count(lit(1)).as("cnt"))
    val wDocs = winCounts.withColumn("n_docs",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("whash")))
    val perDoc = wDocs
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_windows"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(0L)).as("n_dup_windows"))
    corpus.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(n_windows, 0L) AS n_windows",
        "coalesce(n_dup_windows, 0L) AS n_dup_windows")
      .selectExpr("doc_id", "n_windows", "n_dup_windows",
        """CASE WHEN n_windows = 0 THEN CAST(0.0 AS DOUBLE)
          |  ELSE CAST(n_dup_windows AS DOUBLE) / n_windows END AS dup_ratio""".stripMargin)
      .withColumn("flag_dup", col("dup_ratio") >= 0.5)
      .orderBy("doc_id")
  }

  val substringOracle: String = {
    val w = SubstrWindow
    val anchorIn = SubstrAnchorHex.map(h => s"'$h'").mkString(", ")
    val probeSql = substringProbes.map { case (id, t) =>
      s"SELECT CAST($id AS BIGINT) AS doc_id, '$t' AS text"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL $probeSql
       |),
       |wins AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(toks) >= $w
       |      THEN list_transform(
       |        list_filter(range(0, len(toks) - $w + 1),
       |                    i -> substr(md5(toks[i + 1]), 1, 1) IN ($anchorIn)),
       |        i -> md5(array_to_string(toks[i + 1:i + $w], ' ')))
       |      ELSE [] END) AS whash
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
       |),
       |counts AS (SELECT whash, count(DISTINCT doc_id) AS n_docs FROM wins GROUP BY 1),
       |per_doc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |    CAST(count(*) FILTER (WHERE n_docs >= 2) AS BIGINT) AS n_dup_windows
       |  FROM wins JOIN counts USING (whash) GROUP BY 1
       |)
       |SELECT corpus.doc_id,
       |  coalesce(n_windows, 0) AS n_windows,
       |  coalesce(n_dup_windows, 0) AS n_dup_windows,
       |  CASE WHEN coalesce(n_windows, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       |    ELSE CAST(coalesce(n_dup_windows, 0) AS DOUBLE) / n_windows END AS dup_ratio,
       |  (CASE WHEN coalesce(n_windows, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       |    ELSE CAST(coalesce(n_dup_windows, 0) AS DOUBLE) / n_windows END) >= 0.5 AS flag_dup
       |FROM corpus LEFT JOIN per_doc USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** SUBSTRING SCRUB — the REWRITE step of sub-document dedup (Lee et
    * al.'s actual remedy: don't drop the document, cut the duplicated
    * span out of it). Every token covered by any corpus-duplicated
    * anchored window (same [[SubstrWindow]]/[[SubstrAnchorHex]] scheme as
    * [[substring]]) is removed; the cleaned text is re-joined in token
    * order. Output carries counts plus md5 of the cleaned text (the
    * corpus-sized text itself stays out of the comparison surface).
    *
    * Scale shape: one tokenize pass feeds both the window lineage and the
    * coverage anti-join; duplicated-window detection is the same
    * whash-partition window as [[substring]] (collect_set holds DISTINCT
    * doc ids per window hash — bounded by the corpus's duplication
    * profile, and only rows whose hash repeats survive the filter);
    * coverage explodes W rows per duplicated occurrence only; the
    * reassembly groups each doc's kept tokens with a bounded-by-doc-length
    * sort inside the aggregate.
    */
  /** Shared scrub tail: given the tokenized docs and the duplicated
    * window occurrences (doc_id, i), cut every covered token and emit
    * counts + cleaned-text md5. Covered positions collapse to one array
    * per affected doc BEFORE touching the token stream (see
    * [[substringScrub]] for the shuffle-volume rationale).
    */
  private[operators] def scrubWithCoverage(toksDf: DataFrame, dupOcc: DataFrame,
      w: Int = SubstrWindow): DataFrame = {
    val covered = dupOcc
      .selectExpr("doc_id", s"explode(sequence(i, i + ${w - 1})) AS pos")
      .groupBy("doc_id").agg(collect_set("pos").as("cov"))
    toksDf.join(covered, Seq("doc_id"), "left")
      .selectExpr("doc_id", "size(toks) AS n_tokens",
        "CASE WHEN cov IS NULL THEN toks ELSE filter(toks, (x, i) -> NOT array_contains(cov, i)) END AS clean")
      .selectExpr("doc_id", "n_tokens",
        "CAST(size(clean) AS BIGINT) AS n_kept",
        "CAST(n_tokens - size(clean) AS BIGINT) AS n_dropped",
        "md5(array_join(clean, ' ')) AS clean_md5")
      .orderBy("doc_id")
  }

  /** Incremental scrub: cut from ARBITRARY new documents every span whose
    * window hash exists in a corpus window relation (typically the
    * persisted bucketed table from [[persistWindowTable]]) — the
    * production "strip known boilerplate from incoming docs" pass. Only
    * the batch tokenizes; the corpus side joins in place.
    */
  def substringScrubAgainst(newDocs: DataFrame, corpusWins: DataFrame): DataFrame =
    scrubWithCoverage(
      newDocs.selectExpr("doc_id", "split(text, ' ') AS toks"),
      windowOccurrencesOf(newDocs)
        .join(corpusWins.select("whash"), "whash")
        .select("doc_id", "i"))

  def substringScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = docs(spark, dir).select("doc_id", "text")
      .union(substringProbes.toDF("doc_id", "text"))
    val toks = corpus.selectExpr("doc_id", "split(text, ' ') AS toks")
    // anchored window occurrences WITH their start position (fused kernel)
    val wins = windowOccurrencesOf(corpus)
    val dupOcc = wins.withColumn("n_docs",
      size(collect_set(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("whash"))))
      .filter(col("n_docs") >= 2)
      .select("doc_id", "i")
    // covered positions collapse to ONE array row per affected doc before
    // touching the token stream: the shuffle carries only W ints per
    // duplicated occurrence, never the tokens themselves (the first cut
    // of this operator anti-joined and re-grouped every token of every
    // doc — two corpus-sized shuffles, 6.3 s at sf0.1 vs ~3 s for this
    // shape). The per-token membership probe is array_contains over the
    // doc's covered set — linear in |covered|, bounded by doc length,
    // fine for chunk-sized training docs; swap for a sorted-array binary
    // search expression if docs grow to book length.
    scrubWithCoverage(toks, dupOcc)
  }

  val substringScrubOracle: String = {
    val w = SubstrWindow
    val anchorIn = SubstrAnchorHex.map(h => s"'$h'").mkString(", ")
    val probeSql = substringProbes.map { case (id, t) =>
      s"SELECT CAST($id AS BIGINT) AS doc_id, '$t' AS text"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL $probeSql
       |),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
       |wins AS (
       |  SELECT doc_id, u.i AS i, u.whash AS whash FROM (
       |    SELECT doc_id, unnest(
       |      CASE WHEN len(toks) >= $w
       |        THEN list_transform(
       |          list_filter(range(0, len(toks) - $w + 1),
       |                      i -> substr(md5(toks[i + 1]), 1, 1) IN ($anchorIn)),
       |          i -> {'i': i, 'whash': md5(array_to_string(toks[i + 1:i + $w], ' '))})
       |        ELSE [] END) AS u
       |    FROM toks
       |  )
       |),
       |counts AS (SELECT whash, count(DISTINCT doc_id) AS n_docs FROM wins GROUP BY 1),
       |covered AS (
       |  SELECT DISTINCT w.doc_id, unnest(range(w.i, w.i + $w)) AS pos
       |  FROM wins w JOIN counts c USING (whash) WHERE c.n_docs >= 2
       |),
       |tok_rows AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, u.tok AS tok FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
       |      i -> {'i': i, 'tok': toks[i]})) AS u
       |    FROM toks
       |  )
       |),
       |kept AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
       |  FROM tok_rows t ANTI JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
       |  GROUP BY t.doc_id
       |)
       |SELECT corpus.doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  coalesce(n_kept, 0) AS n_kept,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) - coalesce(n_kept, 0) AS n_dropped,
       |  md5(coalesce(clean_text, '')) AS clean_md5
       |FROM corpus LEFT JOIN kept USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Incremental sub-document dedup against a persisted window table
  // -------------------------------------------------------------------------

  /** Per-new-doc substring verdict against a corpus window relation — the
    * reusable core of the batch operator, the persisted-table path and
    * the streaming ingest. A batch window is corpus-duplicated iff its
    * hash exists in the corpus set; the per-batch cost is the batch's own
    * windows plus one whash equi-join.
    */
  private[graft] def substringVerdictFor(newDocs: DataFrame, corpusWins: DataFrame): DataFrame = {
    // The corpus side MUST be collapsed to a set before the join: the
    // persisted window table legitimately accumulates duplicate whash rows
    // across admissions (admitWindows appends; compaction folds later),
    // and a plain left join against it would multiply every matched batch
    // window by that duplicity — inflating n_windows AND n_dup_windows and
    // corrupting dup_ratio for every post-admission verdict. Distinct-ing
    // here keeps the join a true membership probe; over a whash-bucketed
    // table the distinct rides the bucketed scan's hash placement, so no
    // extra corpus-side exchange is introduced.
    val marked = windowHashesOf(newDocs)
      .join(corpusWins.select(col("whash")).distinct().withColumn("hit", lit(1)),
        Seq("whash"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_dup_windows"))
    newDocs.select("doc_id").join(marked, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(n_windows, 0L) AS n_windows",
        "coalesce(n_dup_windows, 0L) AS n_dup_windows")
      .selectExpr("doc_id", "n_windows", "n_dup_windows",
        """CASE WHEN n_windows = 0 THEN CAST(0.0 AS DOUBLE)
          |  ELSE CAST(n_dup_windows AS DOUBLE) / n_windows END AS dup_ratio""".stripMargin)
      .withColumn("flag_dup", col("dup_ratio") >= 0.5)
      .orderBy("doc_id")
  }

  /** Distinct corpus window hashes (the 80% split, matching the minhash
    * incremental family's corpus/batch convention).
    */
  private[graft] def corpusWindowSet(spark: SparkSession, dir: String): DataFrame =
    windowHashesOf(corpusDocs(spark, dir)).select("whash").distinct()

  /** Batch-vs-corpus substring dedup, both sides computed inline — the
    * oracle-checked form of the incremental path.
    */
  def substringIncremental(spark: SparkSession, dir: String): DataFrame =
    substringVerdictFor(incomingDocs(spark, dir), corpusWindowSet(spark, dir))

  /** Persist the corpus window set BUCKETED by whash — the artifact a
    * production sub-document pipeline maintains between ingests, exactly
    * parallel to [[persistCorpusBands]]: each batch joins against it with
    * no shuffle on the corpus side (hash-placed on disk), so per-ingest
    * cost is the batch's windows, never the corpus's.
    */
  def persistWindowTable(spark: SparkSession, dir: String, table: String,
      buckets: Int = 16): Unit =
    corpusWindowSet(spark, dir)
      .write.mode("overwrite").bucketBy(buckets, "whash").saveAsTable(table)

  /** [[substringIncremental]] against the pre-persisted window table:
    * identical verdicts, corpus never re-tokenized or re-shuffled.
    */
  def substringAgainst(spark: SparkSession, dir: String, table: String): DataFrame =
    substringVerdictFor(incomingDocs(spark, dir), spark.table(table))

  /** ADMISSION for the window table: kept (non-flagged) docs' distinct
    * window hashes are appended bucket-aligned, so the next ingest sees
    * them as corpus. Duplicate hash rows across appends don't change
    * verdicts (membership join) — compaction folds them later. Returns
    * the number of docs admitted.
    */
  def admitWindows(newDocs: DataFrame, verdicts: DataFrame, table: String): Long = {
    val spark = newDocs.sparkSession
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(s"$table is not a bucketed window table"))
    // pin the pre-append verdicts: `verdicts` is typically lazy over this
    // very table (see admitBands for the full rationale)
    val kept = verdicts.filter(!col("flag_dup")).select("doc_id").persist()
    try {
      val n = kept.count()
      if (n > 0)
        windowHashesOf(newDocs.join(kept, "doc_id"))
          .select("whash").distinct()
          .write.mode("append").bucketBy(buckets, "whash").saveAsTable(table)
      n
    } finally { kept.unpersist(); () }
  }

  /** STREAMING incremental substring dedup: each micro-batch's verdicts
    * against the persisted window table, appended to `sink` — same
    * contract and checkpoint caveats as [[incrementalStream]].
    */
  def substringStream(newDocs: DataFrame, windowTable: String,
      checkpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newDocs, checkpointLocation)(b =>
      sink(substringVerdictFor(b, b.sparkSession.table(windowTable))))

  val substringIncrementalOracle: String = {
    val w = SubstrWindow
    val anchorIn = SubstrAnchorHex.map(h => s"'$h'").mkString(", ")
    s"""WITH wins AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(toks) >= $w
       |      THEN list_transform(
       |        list_filter(range(0, len(toks) - $w + 1),
       |                    i -> substr(md5(toks[i + 1]), 1, 1) IN ($anchorIn)),
       |        i -> md5(array_to_string(toks[i + 1:i + $w], ' ')))
       |      ELSE [] END) AS whash
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |),
       |corpus_set AS (SELECT DISTINCT whash FROM wins WHERE doc_id % 10 < 8),
       |marked AS (
       |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |    CAST(count(*) FILTER (WHERE c.whash IS NOT NULL) AS BIGINT) AS n_dup_windows
       |  FROM (SELECT * FROM wins WHERE doc_id % 10 >= 8) w
       |  LEFT JOIN corpus_set c USING (whash)
       |  GROUP BY w.doc_id
       |)
       |SELECT d.doc_id,
       |  coalesce(n_windows, 0) AS n_windows,
       |  coalesce(n_dup_windows, 0) AS n_dup_windows,
       |  CASE WHEN coalesce(n_windows, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       |    ELSE CAST(coalesce(n_dup_windows, 0) AS DOUBLE) / n_windows END AS dup_ratio,
       |  (CASE WHEN coalesce(n_windows, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       |    ELSE CAST(coalesce(n_dup_windows, 0) AS DOUBLE) / n_windows END) >= 0.5 AS flag_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
       |LEFT JOIN marked USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }
}
