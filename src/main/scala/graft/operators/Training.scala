package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.streaming.StreamingQueries.eachBatch

/** LLM-training-data operators beyond curation basics: benchmark
  * decontamination, sequence chunk/packing layout, and embedding
  * quantization. All deterministic (hash-routed, no RNG), all
  * oracle-checkable, all single-shuffle shapes that survive a 100 TB
  * corpus.
  */
object Training {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  // -------------------------------------------------------------------------
  // Benchmark decontamination (n-gram overlap against an eval set)
  // -------------------------------------------------------------------------

  /** Contamination check: flag training documents sharing any word-3-gram
    * with the benchmark/eval set (here: every 50th doc by id — in
    * production the external benchmark corpus). Output per contaminated
    * train doc: how many of its shingles hit the benchmark (`n_hits`, the
    * retain/drop evidence) and how many distinct benchmark docs it touches.
    *
    * Scale shape: one shuffle on shingle. The benchmark side is tiny
    * relative to the corpus (eval sets are ~10^4-10^6 n-grams), so AQE
    * broadcasts it and the corpus side never moves — the decontamination
    * pass costs one corpus scan.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(spark, dir)
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(col("shingle"), col("doc_id").as("bench_id"))
    val train = sh.filter(col("doc_id") % 50 =!= 0)
    train.join(bench, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  val contaminationOracle: String =
    s"""WITH ${Dedup.shinglesCte},
       |bench AS (SELECT shingle, doc_id AS bench_id FROM shingles WHERE doc_id % 50 = 0),
       |train AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % 50 <> 0)
       |SELECT t.doc_id, count(*) AS n_hits,
       |  count(DISTINCT b.bench_id) AS n_bench_docs
       |FROM train t JOIN bench b USING (shingle)
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** FUZZY decontamination: MinHash/LSH near-duplicate overlap between
    * the training corpus and the benchmark set — catches the rephrased /
    * lightly-edited contamination that exact n-gram overlap
    * ([[contamination]]) misses (the published concern behind
    * fuzzy-dedup decontamination in LLM data work). Candidate
    * (train, bench) pairs come from the dedup family's banded-signature
    * equi-join — cross-side only, never all-pairs — and survive at
    * estimated Jaccard >= [[FuzzyContamSim]] (signature-slot agreement,
    * exact k/16 fractions in both engines).
    *
    * Scale shape: signatures are one shuffle over (doc, shingle); the
    * band join's bench side is eval-set-sized (tiny vs the corpus), so
    * AQE broadcasts it and the corpus-side band rows never move; est_sim
    * is computed from the two signature arrays riding the join — no slot
    * explosion, no join-back.
    */
  val FuzzyContamSim = 0.5

  /** The fuzzy benchmark split (every 10th doc — a larger eval suite
    * than the exact family's % 50 so the near-dup band join has real
    * work: at sf0.01 it yields hits at est 1.0 and 0.9375 ACCEPTED and
    * 0.25-band-collision pairs REJECTED, exercising both threshold
    * sides).
    */
  val FuzzyBenchMod = 10

  def contaminationFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bench = Dedup.minhashBandsOf(
        Dedup.shinglesOf(d.filter(col("doc_id") % FuzzyBenchMod === 0)))
      .select(col("band"), col("band_sig"),
        col("doc_id").as("bench_id"), col("sig").as("sig_b"))
    val train = Dedup.minhashBandsOf(
      Dedup.shinglesOf(d.filter(col("doc_id") % FuzzyBenchMod =!= 0)))
    train.join(bench, Seq("band", "band_sig"))
      .select(col("doc_id"), col("bench_id"), col("sig"), col("sig_b"))
      .distinct() // multi-band collisions collapse; sigs are functions of the ids
      .withColumn("est_sim", Dedup.estSimCol(col("sig"), col("sig_b")))
      .filter(col("est_sim") >= FuzzyContamSim)
      .select("doc_id", "bench_id", "est_sim")
      .orderBy("doc_id", "bench_id")
  }

  /** The same pairs re-derived through the shared minhash CTE chain over
    * the full corpus (per-doc signatures don't depend on the split, so
    * filtering inside the chain equals building the sides separately).
    */
  val contaminationFuzzyOracle: String =
    s"""WITH ${Dedup.minhashSigBandsCte},
       |xc AS (
       |  SELECT DISTINCT t.doc_id AS doc_id, b.doc_id AS bench_id
       |  FROM bands t JOIN bands b ON t.band = b.band AND t.band_sig = b.band_sig
       |  WHERE t.doc_id % $FuzzyBenchMod <> 0 AND b.doc_id % $FuzzyBenchMod = 0
       |),
       |xs AS (
       |  SELECT x.doc_id, x.bench_id,
       |    CAST(sum(CASE WHEN st.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE)
       |      / ${Dedup.NumPerms} AS est_sim
       |  FROM xc x
       |  JOIN sig st ON st.doc_id = x.doc_id
       |  JOIN sig sb ON sb.doc_id = x.bench_id AND sb.p = st.p
       |  GROUP BY 1, 2
       |)
       |SELECT doc_id, bench_id, est_sim FROM xs
       |WHERE est_sim >= CAST($FuzzyContamSim AS DOUBLE)
       |ORDER BY doc_id, bench_id""".stripMargin

  /** The frozen benchmark-side band table for continuous decontamination
    * ([[contaminationFuzzyStream]]): (band, band_sig, bench_id, sig_b)
    * rows, computed once when the monitor starts.
    */
  private[graft] def fuzzyBenchBands(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashBandsOf(
        Dedup.shinglesOf(docs(spark, dir).filter(col("doc_id") % FuzzyBenchMod === 0)))
      .select(col("band"), col("band_sig"),
        col("doc_id").as("bench_id"), col("sig").as("sig_b"))

  /** CONTINUOUS decontamination: every micro-batch of arriving training
    * documents is checked against the FROZEN benchmark band table (read
    * from `benchTable` — the standing eval suite, the fuzzy twin of BM25
    * percolation's standing queries). Per-doc signatures are independent
    * and the bench side is frozen, so the per-batch emission union
    * equals the batch [[contaminationFuzzy]] for any chunking — the
    * `stream_contamination` gate's oracle.
    */
  def contaminationFuzzyStream(newDocs: DataFrame, benchTable: String)(
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newDocs) { batch =>
      val train = Dedup.minhashBandsOf(Dedup.shinglesOf(batch))
      val verdicts = train.join(batch.sparkSession.table(benchTable), Seq("band", "band_sig"))
        .select(col("doc_id"), col("bench_id"), col("sig"), col("sig_b"))
        .distinct()
        .withColumn("est_sim", Dedup.estSimCol(col("sig"), col("sig_b")))
        .filter(col("est_sim") >= FuzzyContamSim)
        .select("doc_id", "bench_id", "est_sim")
      onBatch(verdicts)
    }

  /** [[contamination]] with a BLOOM-FILTER pre-join — the 100 TB form.
    * The benchmark shingle set folds into one Bloom filter (Spark's own
    * BloomFilterAggregate, exposed as `bloom_agg` via GraftExtensions);
    * the corpus-side scan drops every shingle the filter rejects BEFORE
    * the join, as a codegen'd scalar predicate on the scan side. False
    * positives fall through to the exact join and die there, so the
    * result is BIT-IDENTICAL to [[contamination]] (same oracle) — the
    * bloom changes the cost, not the answer.
    *
    * Why it matters at scale: the exact join must shuffle (or at best
    * build a broadcast hash of) every corpus shingle; the bloom rejects
    * the overwhelming majority of them inside the scan stage at a few ns
    * per probe, so join input shrinks from |corpus shingles| to
    * |hits + false positives|. The filter itself is a one-row aggregate
    * (scalar subquery) — no driver loop, no custom sketch code.
    */
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(spark, dir)
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(col("shingle"), col("doc_id").as("bench_id"))
    bench.createOrReplaceTempView("graft_bloom_bench")
    sh.filter(col("doc_id") % 50 =!= 0)
      .createOrReplaceTempView("graft_bloom_train")
    // size the filter to the MEASURED bench cardinality (one count job —
    // a driver scalar, not row data): the default 1M-item/1MB filter made
    // every corpus-shingle probe a cache miss and cost more than it
    // saved. ~10 bits/item keeps FP ~1% with the bitmap cache-resident
    // for eval-set-sized benches.
    val nBench = math.max(1L, bench.select("shingle").distinct().count())
    // Spark clamps BloomFilterAggregate's arguments at
    // spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,maxNumBits}
    // (4M / 64M defaults) — SILENTLY. Past maxNumBits/10 distinct bench
    // shingles the ~10 bits/item -> ~1% FP target quietly degrades:
    // results stay bit-identical (FPs die in the exact join) but pruning
    // power shrinks and join cost grows. Clamp explicitly and say so, so
    // an oversized bench is a visible operational signal, not a mystery
    // slowdown.
    val maxItems = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems").map(_.toLong).getOrElse(4000000L)
    val maxBits = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits").map(_.toLong).getOrElse(67108864L)
    val nItems = math.min(nBench, maxItems)
    val nBits = math.min(nBench * 10, maxBits)
    if (nBench > maxItems || nBench * 10 > maxBits)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bloom filter clamped: bench has $nBench distinct shingles; " +
          s"using numItems=$nItems numBits=$nBits " +
          f"(~${nBits.toDouble / nBench}%.1f bits/item — FP rate above the 1%% target; " +
          "raise spark.sql.optimizer.runtime.bloomFilter.maxNumBits or pre-partition the bench)")
    spark.sql(
      s"""WITH pruned AS (
        |  SELECT t.doc_id, t.shingle FROM graft_bloom_train t
        |  WHERE bloom_contains(
        |    (SELECT bloom_agg(xxhash64(shingle), ${nItems}L, ${nBits}L)
        |     FROM graft_bloom_bench),
        |    xxhash64(t.shingle))
        |)
        |SELECT p.doc_id, count(*) AS n_hits,
        |  count(DISTINCT b.bench_id) AS n_bench_docs
        |FROM pruned p JOIN graft_bloom_bench b USING (shingle)
        |GROUP BY p.doc_id
        |ORDER BY p.doc_id""".stripMargin)
  }

  // -------------------------------------------------------------------------
  // Train/val split with an n-gram leakage guard
  // -------------------------------------------------------------------------

  /** LEAKAGE-GUARDED SPLIT — deterministic CONTENT-HASH split into
    * train/val (md5-of-text threshold, the [[Pipeline.stratifiedSample]]
    * discipline — doc ids are NOT stable across re-ingestion, content is;
    * an id-keyed split silently re-shuffles train/val when a loader
    * reassigns ids, the classic eval-contamination accident), plus the
    * guard every eval pipeline needs: for each TRAIN doc, how many of its
    * distinct word-3-grams also appear anywhere in the VAL split
    * (`n_leak`) and a `flag_leak` bit. A val set whose shingles survive
    * in train is [[contamination]] you inflicted on yourself — this is
    * the same membership check pointed INSIDE the corpus at split time;
    * [[leakageApply]] is the action path that consumes the flag.
    * Stability under id reassignment is pinned by spec.
    *
    * Scale shape: one shingle explode per split side + one LEFT SEMI
    * membership join on shingle (duplicate-safe by construction — semi
    * joins never multiply, the same discipline as the substring verdict
    * path) + one per-doc count with map-side combine. The val side is the
    * small split fraction, so AQE broadcasts it and the train shingles
    * never move; past broadcast size the bloom pre-filter crossover
    * documented for [[contaminationBloom]] applies unchanged.
    */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame =
    leakageSplitDf(docs(spark, dir).select("doc_id", "text"))

  /** [[leakageSplit]] over an arbitrary (doc_id, text) relation — the
    * reassignment spec re-runs it with shifted ids to prove the split
    * never moves.
    */
  private[graft] def leakageSplitDf(d: DataFrame): DataFrame = {
    val withSplit = d.selectExpr("doc_id", "text",
      s"CASE WHEN ${DocHash.spark} % 5 = 0 THEN 'val' ELSE 'train' END AS split")
    val valShingles = Dedup.shinglesOf(withSplit.filter(col("split") === "val"))
      .select("shingle").distinct()
    val leaks = Dedup.shinglesOf(withSplit.filter(col("split") === "train"))
      .join(valShingles, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_leak"))
    withSplit.select("doc_id", "split")
      .join(leaks, Seq("doc_id"), "left")
      .selectExpr("doc_id", "split",
        "coalesce(n_leak, 0L) AS n_leak",
        "coalesce(n_leak, 0L) > 0 AS flag_leak")
      .orderBy("doc_id")
  }

  /** The ACTION path on the guard's flag: leaky train docs are DROPPED
    * from the manifest (they would train on the val set's n-grams);
    * val docs and clean train docs pass through. Emits the post-guard
    * assignment a training job actually consumes.
    */
  def leakageApply(spark: SparkSession, dir: String): DataFrame =
    leakageSplit(spark, dir)
      .selectExpr("doc_id",
        "CASE WHEN split = 'train' AND flag_leak THEN 'dropped' ELSE split END AS final_split",
        "n_leak")
      .orderBy("doc_id")

  private val duckSplitCte: String =
    s"""split AS (
       |  SELECT doc_id,
       |    CASE WHEN ${DocHash.duck} % 5 = 0 THEN 'val' ELSE 'train' END AS split
       |  FROM documents
       |),
       |val_set AS (
       |  SELECT DISTINCT shingle FROM shingles JOIN split USING (doc_id)
       |  WHERE split = 'val'
       |),
       |leaks AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_leak
       |  FROM shingles s JOIN split sp USING (doc_id)
       |  JOIN val_set v USING (shingle)
       |  WHERE sp.split = 'train'
       |  GROUP BY s.doc_id
       |)""".stripMargin

  val leakageSplitOracle: String =
    s"""WITH ${Dedup.shinglesCte},
       |$duckSplitCte
       |SELECT d.doc_id, sp.split,
       |  coalesce(n_leak, 0) AS n_leak,
       |  coalesce(n_leak, 0) > 0 AS flag_leak
       |FROM documents d JOIN split sp USING (doc_id)
       |LEFT JOIN leaks USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  val leakageApplyOracle: String =
    s"""WITH ${Dedup.shinglesCte},
       |$duckSplitCte
       |SELECT d.doc_id,
       |  CASE WHEN sp.split = 'train' AND coalesce(n_leak, 0) > 0
       |    THEN 'dropped' ELSE sp.split END AS final_split,
       |  coalesce(n_leak, 0) AS n_leak
       |FROM documents d JOIN split sp USING (doc_id)
       |LEFT JOIN leaks USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Sequence packing layout (concat-then-chunk)
  // -------------------------------------------------------------------------

  val SeqLen = 256

  /** Concat-then-chunk packing layout: documents are laid end-to-end in
    * doc_id order WITHIN each source shard and cut into fixed 256-token
    * training sequences; each doc gets its global token offset, owning
    * sequence id, and offset within that sequence. Per-source windows keep
    * the running sum parallel across shards — the global-total-order
    * variant would funnel the corpus through one task. At 100 TB the shard
    * key is finer (source x date x bucket); the layout algebra is the same.
    */
  def packChunks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(spark, dir)
      .selectExpr("doc_id", "source", "CAST(size(split(text, ' ')) AS BIGINT) AS n_toks")
      .withColumn("tok_start", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .selectExpr("doc_id", "source", "n_toks", "tok_start",
        s"tok_start div $SeqLen AS seq_id", s"tok_start % $SeqLen AS seq_offset")
      .orderBy("doc_id")
  }

  // 32/24 (8-token overlap) rather than a production 512/384: the fixture's
  // docs run 10-99 tokens (median 56), so these constants exercise BOTH the
  // single-chunk and the multi-chunk/overlap paths non-vacuously — at
  // production sizes every fixture doc would collapse to one chunk and the
  // stride arithmetic would be dead code under the oracle
  val ChunkLen = 32
  val ChunkStride = 24

  /** OVERLAPPING TOKEN-WINDOW CHUNKER — cut each document into
    * [[ChunkLen]]-token windows advancing by [[ChunkStride]]
    * (ChunkLen - ChunkStride = 8-token overlap), the
    * retrieval/RAG and long-context-pretraining chunking
    * shape that [[packChunks]]' non-overlapping concat-then-chunk layout
    * doesn't cover: overlap preserves context across chunk boundaries at
    * the cost of (ChunkLen/ChunkStride)x duplication. Emits per chunk its
    * index, token offset, length, and content md5 (the downstream dedup /
    * embedding key). Chunk count is exact integer arithmetic
    * ((n - L + S - 1) DIV S + 1), so the oracle matches bit-for-bit.
    *
    * Scale shape: map-only — one scan, a bounded explode (fan-out
    * n_toks/stride), no shuffle before the output ordering; at 100 TB
    * chunking parallelizes per input split with zero data movement.
    */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "toks",
        s"""explode(sequence(0,
           |  CASE WHEN size(toks) <= $ChunkLen THEN 0
           |    ELSE (size(toks) - $ChunkLen + $ChunkStride - 1) DIV $ChunkStride
           |  END)) AS chunk_id""".stripMargin)
      .selectExpr("doc_id", "CAST(chunk_id AS BIGINT) AS chunk_id",
        s"CAST(chunk_id * $ChunkStride AS BIGINT) AS tok_start",
        s"slice(toks, chunk_id * $ChunkStride + 1, $ChunkLen) AS chunk_toks")
      .selectExpr("doc_id", "chunk_id", "tok_start",
        "CAST(size(chunk_toks) AS BIGINT) AS n_chunk_toks",
        "md5(array_join(chunk_toks, ' ')) AS chunk_md5")
      .orderBy("doc_id", "chunk_id")

  val chunkOverlapOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |base AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) <= $ChunkLen THEN 1
       |      ELSE (len(toks) - $ChunkLen + $ChunkStride - 1) // $ChunkStride + 1
       |    END AS n_chunks
       |  FROM toks
       |),
       |chunks AS (
       |  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_id, toks FROM base
       |)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(chunk_id * $ChunkStride AS BIGINT) AS tok_start,
       |  CAST(len(toks[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen]) AS BIGINT) AS n_chunk_toks,
       |  md5(array_to_string(toks[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen], ' ')) AS chunk_md5
       |FROM chunks
       |ORDER BY doc_id, chunk_id""".stripMargin

  val packChunksOracle: String =
    s"""SELECT doc_id, source, n_toks, tok_start,
       |  tok_start // $SeqLen AS seq_id, tok_start % $SeqLen AS seq_offset
       |FROM (
       |  SELECT doc_id, source, n_toks,
       |    CAST(coalesce(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
       |  FROM (SELECT doc_id, source,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |        FROM documents)
       |)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Embedding int8 quantization
  // -------------------------------------------------------------------------

  /** Symmetric int8 quantization of the embedding column: per-vector scale
    * 127/max|x|, q_i = floor(x_i * 127 / max|x| + 0.5) (explicit
    * floor(+0.5) — engines disagree on round()'s half-even vs half-up, so
    * the rounding is spelled out). Output is the per-vector scale plus
    * checksum stats of the quantized vector (sum/min/max/nnz), which pin
    * every q_i without shipping arrays through the compare.
    *
    * Scale shape: a pure map — no shuffle, whole-stage codegen'd, and
    * embarrassingly parallel at any corpus size.
    */
  def quantize(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) AS maxabs")
      .selectExpr("vec_id", "maxabs",
        s"""CASE WHEN maxabs = 0.0 THEN transform(embedding, x -> CAST(0 AS BIGINT))
            ELSE transform(embedding, x ->
              CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS BIGINT)) END AS q""")
      .selectExpr("vec_id", "maxabs",
        "aggregate(q, CAST(0 AS BIGINT), (a, v) -> a + v) AS q_sum",
        "array_min(q) AS q_min",
        "array_max(q) AS q_max",
        "CAST(size(filter(q, v -> v <> 0)) AS BIGINT) AS q_nnz")
      .orderBy("vec_id")

  val quantizeOracle: String =
    """SELECT vec_id, maxabs,
      |  CAST(list_sum(q) AS BIGINT) AS q_sum,
      |  CAST(list_min(q) AS BIGINT) AS q_min,
      |  CAST(list_max(q) AS BIGINT) AS q_max,
      |  CAST(len(list_filter(q, v -> v <> 0)) AS BIGINT) AS q_nnz
      |FROM (
      |  SELECT vec_id, maxabs,
      |    CASE WHEN maxabs = 0.0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(embedding, x ->
      |           CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS BIGINT)) END AS q
      |  FROM (
      |    SELECT vec_id, embedding,
      |      -- coalesce: empty list folds to the 0.0 seed on the Spark side
      |      coalesce(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS maxabs
      |    FROM embeddings
      |  )
      |)
      |ORDER BY vec_id""".stripMargin
}
