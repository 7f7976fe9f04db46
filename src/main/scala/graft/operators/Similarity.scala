package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.streaming.StreamingQueries.eachBatch

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Cosine is computed as an explicit left-fold in double
  * (zip_with + aggregate) so it is bit-identical to the DuckDB oracle's
  * list_sum(list_transform(...)) — no rounding fudge needed.
  *
  * Scale design (100 TB): [[topkBruteforce]] broadcasts the (small) query
  * set against the full corpus — the baseline ANN answer, embarrassingly
  * parallel, no shuffle except the final per-query top-k. [[lshNearDup]]
  * buckets by deterministic hyperplane signs so the self-join touches only
  * same-bucket pairs (corpus²/2^planes), the standard LSH scale path.
  */
object Similarity {

  /** dot(a, b) in double as a strict left fold — the custom codegen'd
    * expression (graft.functions.FloatDotProduct) with arithmetic identical
    * to aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0.0, +).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.FastFunctions.float_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** DuckDB rendering of the same fold (list_sum is a sequential sum). */
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** Embeddings + precomputed norm (computed once, reused across pairs). */
  private def withNorm(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).withColumn("nrm", norm(col("embedding")))

  // -------------------------------------------------------------------------
  // Brute-force cosine top-k (the exact baseline every ANN is judged against)
  // -------------------------------------------------------------------------

  val TopK = 10

  /** For each query vector (every 20th vec_id), the exact top-10 cosine
    * neighbors. Query side is broadcast; ranking uses the bounded top-k
    * aggregate (map-side partial, <= k rows per query reach the shuffle —
    * a per-query window sort over all candidates died at 20x scale) with
    * the same (cosine DESC, vec_id ASC) order, so results are unchanged.
    */
  def topkBruteforce(spark: SparkSession, dir: String): DataFrame =
    topkBruteforceSet(spark, dir, None)

  /** Restrict a query side to an arriving id set as a DATAFRAME
    * broadcast semi-join — never a driver collect + IN literal. The set
    * is an arriving micro-batch or any (vec_id)-keyed frame; with
    * corpus-derived query streams the collect form would materialize
    * data-scale ids on the driver, which is exactly the failure mode
    * the serving tier must not have at 100×. Mirrors the
    * [[graft.operators.TextAnalysis.Terms.frame]] discipline.
    */
  private def semiOnVecId(q: DataFrame, querySet: Option[DataFrame]): DataFrame =
    querySet.fold(q)(s =>
      q.join(broadcast(s.select("vec_id").distinct()), Seq("vec_id"), "left_semi"))

  /** [[topkBruteforce]] with the query side restricted to a set frame —
    * the streaming eval gate scores one arriving query batch at a time.
    */
  private[graft] def topkBruteforceSet(spark: SparkSession, dir: String,
      querySet: Option[DataFrame]): DataFrame = {
    val e = withNorm(spark, dir)
    val q = semiOnVecId(e.filter(col("vec_id") % 20 === 0), querySet)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine", dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
    rankTopK(scored)
  }

  /** (q_id, id, score) -> per-query ranked top-k rows (q_id, rank,
    * neighbor_id, score), cosine by default.
    *
    * Performance note: ObjectHashAggregate (which executes the udaf) falls
    * back to SORT-based aggregation after 128 distinct keys, re-creating
    * the giant candidate sort this aggregate avoids. The engine sessions
    * (Bench/Verify) raise spark.sql.objectHashAggregate.sortBased
    * .fallbackThreshold for that reason — a session-level policy rather
    * than a hidden mutation here, so other object aggregates in the same
    * session keep their spill safety net semantics visible in one place.
    */
  private def rankTopK(scored: DataFrame, id: String = "vec_id",
      score: Column = col("cosine"),
      scoreOut: Column => Column = _.as("cosine")): DataFrame = {
    scored
      .groupBy("q_id")
      .agg(graft.functions.TopK.topk(TopK)(col(id), score).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), scoreOut(col("col.score")))
      .orderBy("q_id", "rank")
  }

  val topkBruteforceOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |),
       |scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |    ${duckDot("e.embedding", "q.embedding")} / (e.nrm * q.nrm) AS cosine
       |  FROM e JOIN e q ON q.vec_id % 20 = 0 AND e.vec_id <> q.vec_id
       |)
       |SELECT q_id, rank, neighbor_id, cosine FROM (
       |  SELECT q_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // -------------------------------------------------------------------------
  // LSH-bucketed near-dup pairs (the scale path)
  // -------------------------------------------------------------------------

  val NumPlanes = 6

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived value in [-1000, 1000] — DuckDB rendering; the engine uses
    * [[planeMatrix]], the same computation precomputed driver-side.
    */
  private def duckPlaneComponent(p: String, d: String): String =
    s"CAST(CAST(concat('0x', substr(md5(concat('pl', CAST($p AS VARCHAR), '_', CAST($d AS VARCHAR))), 1, 15)) AS BIGINT) % 2001 - 1000 AS DOUBLE)"

  /** Driver-side replica of the md5-derived plane component (same value
    * the oracle recomputes in SQL), precomputed once per (plane, dim) and
    * embedded as array literals — the per-row md5 storm this replaces was
    * 6x64 digests per vector.
    */
  private def planeMatrix(dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NumPlanes, dims) { (p, d) =>
      val hex = md.digest(s"pl${p}_$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 2001 - 1000).toDouble
    }
  }

  /** Corpus with norm + hyperplane-sign bucket — the shared LSH sketch
    * behind [[lshNearDup]] and [[semanticDedup]]. Plane components are
    * whole numbers in [-1000, 1000] — float-exact, so float_dot over a
    * float-cast plane literal is bit-identical to the oracle's double
    * products.
    */
  private def sketched(spark: SparkSession, dir: String): DataFrame = {
    val planes = planeMatrix(64)
    val bucket = (0 until NumPlanes).map { p =>
      val proj = dot(col("embedding"), typedLit(planes(p).map(_.toFloat)))
      when(proj > 0, 1 << p).otherwise(0)
    }.reduce(_ + _)
    withNorm(spark, dir).withColumn("bucket", bucket)
  }

  /** Sign-of-hyperplane-projection sketch: bucket = 6 sign bits. Candidate
    * pairs share a bucket; cosine >= 0.3 confirms. At scale the bucket join
    * replaces the corpus cross-join.
    */
  def lshNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sketch = sketched(spark, dir)
    sketch.as("a").join(sketch.as("b"), Seq("bucket"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= 0.3)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), col("bucket"), col("cosine"))
      .orderBy("id_a", "id_b")
  }

  // -------------------------------------------------------------------------
  // IVF-style ANN (coarse quantizer + probe subset — the other scale path)
  // -------------------------------------------------------------------------

  val NProbe = 3

  /** IVF search with the `label` column as the coarse partition and the
    * min-vec_id member of each label as its deterministic pivot (a data-
    * independent stand-in for trained centroids — k-means means would be
    * float-sum order-dependent and unverifiable against the oracle).
    * Each query probes the `nprobe` labels whose pivots are closest by
    * cosine and brute-forces only those partitions: the candidate set
    * shrinks by ~nprobe/nlists, the IVF scaling argument. `nprobe` is the
    * recall knob — OperatorsSpec pins recall@k vs [[topkBruteforce]] as
    * monotone in it, with full-probe recall exactly 1.0.
    */
  def ivfTopk(spark: SparkSession, dir: String): DataFrame =
    ivfTopkProbe(spark, dir, NProbe)

  /** [[ivfTopk]] with an explicit probe width. */
  def ivfTopkProbe(spark: SparkSession, dir: String, nprobe: Int): DataFrame =
    ivfLabelSearch(spark, dir, withNorm(spark, dir), nprobe, strided(20),
      includeSelf = false)

  // -------------------------------------------------------------------------
  // The staged search every IVF family runs: (1) query set, (2) coarse
  // lists, (3) probe, (4) score the probed lists — flat cosine or ADC over
  // `rec`, (5) finish — [[rankTopK]] or the PQ [[refineExact]]. Stages 1-3
  // prune partitions and 4-5 refine, REPOSE's (ICDE 2021) split of
  // distributed top-k.
  // -------------------------------------------------------------------------

  /** Stage 1's query predicate: every `n`-th vec_id; the stage may also
    * restrict to an arriving id set ([[semiOnVecId]]).
    */
  private def strided(n: Int): Column = col("vec_id") % n === 0

  /** Stage 2: a coarse-list frame keyed by `key` (matched against the
    * corpus column `listCol`), the ascending order that ranks a query's
    * closest list first, and which lists a query may probe at all.
    */
  private final case class CoarseLists(frame: DataFrame, key: String,
      listCol: String, closer: Column, admit: Column = lit(true))

  /** Label pivots: the min-vec_id member of each label in `corpus`,
    * ranked by cosine to the query (tie-break on label). Pivots derive
    * from the corpus they partition, so a forgotten pivot hands its label
    * to the next survivor. `excludeOwnLabel` keeps a query off its own
    * label's list (needs `q_label` on the query rows).
    */
  private def labelPivots(corpus: DataFrame, excludeOwnLabel: Boolean): CoarseLists = {
    val pivotIds = corpus.groupBy("label").agg(min("vec_id").as("vec_id"))
    val pivots = corpus.join(pivotIds, Seq("label", "vec_id"))
      .select(col("label").as("p_label"), col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
    CoarseLists(pivots, "p_label", "label",
      (dot(col("q_emb"), col("p_emb")) / (col("q_nrm") * col("p_nrm"))).desc,
      if (excludeOwnLabel) col("p_label") =!= col("q_label") else lit(true))
  }

  /** K-means centroids, ranked by the fit's exact integer distance to the
    * quantized query `q_q` (tie-break on cid).
    */
  private def centroidLists(spark: SparkSession, cents: Seq[(Int, Seq[Long])]): CoarseLists = {
    import spark.implicits._
    CoarseLists(cents.sortBy(_._1).toDF("cid", "c"), "cid", "cluster_id",
      expr(sqL2("q_q", "c")))
  }

  /** Exact integer squared L2 between two quantized array columns. */
  private def sqL2(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"

  /** Stage 3, the one probe ranking: each query row (keyed by q_id) keeps
    * its `nprobe` closest lists. The list frame is K rows, so the cross
    * join is a broadcast nested loop over queries only.
    */
  private def probe(q: DataFrame, lists: CoarseLists, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id").orderBy(lists.closer, col(lists.key))
    q.crossJoin(broadcast(lists.frame))
      .filter(lists.admit)
      .withColumn("p_rank", row_number().over(w))
      .filter(col("p_rank") <= nprobe)
      .select((q.columns :+ lists.key).map(col): _*)
  }

  /** Stage 4's join: a corpus row belongs to a probed list, and is not
    * the query itself unless `includeSelf` (hybrid fusion keeps self
    * because the BM25 leg ranks the query's own document too).
    */
  private def onProbedList(corpus: DataFrame, probed: DataFrame,
      lists: CoarseLists, includeSelf: Boolean): Column = {
    val on = corpus(lists.listCol) === probed(lists.key)
    if (includeSelf) on else on && col("vec_id") =!= col("q_id")
  }

  /** Stages 3-5, flat: probe, then brute-force cosine over the probed
    * lists of `corpus` (vec_id, embedding, nrm, listCol). The candidate set
    * shrinks by ~nprobe/nlists, and over a corpus bucketed by its list
    * column the join reads it in place: only queries move.
    */
  private def flatSearch(q: DataFrame, corpus: DataFrame, lists: CoarseLists,
      nprobe: Int, includeSelf: Boolean): DataFrame = {
    val probed = probe(q, lists, nprobe)
    cosineTopK(probed, corpus, onProbedList(corpus, probed, lists, includeSelf))
  }

  /** Stages 4-5, flat: cosine of every (probed query, corpus row) pair
    * matching `on`, then the bounded top-k.
    */
  private def cosineTopK(probed: DataFrame, corpus: DataFrame, on: Column): DataFrame =
    rankTopK(probed.join(corpus, on)
      .withColumn("cosine", dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm"))))

  /** Label-IVF over `corpus` (label, vec_id, embedding, nrm): the corpus
    * dir itself or a persisted index bucketed by label. Queries are the
    * `queryPred` rows of the corpus dir.
    */
  private def ivfLabelSearch(spark: SparkSession, dir: String,
      corpus: DataFrame, nprobe: Int, queryPred: Column, includeSelf: Boolean,
      querySet: Option[DataFrame] = None, excludeOwnLabel: Boolean = false): DataFrame = {
    val q = semiOnVecId(withNorm(spark, dir).filter(queryPred), querySet)
      .select(Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm")) ++
        (if (excludeOwnLabel) Seq(col("label").as("q_label")) else Nil): _*)
    flatSearch(q, corpus, labelPivots(corpus, excludeOwnLabel), nprobe, includeSelf)
  }

  /** Persist the IVF index — the corpus with its norms, BUCKETED by the
    * coarse label — the artifact a production ANN service maintains
    * between query batches (the similarity-family analogue of the dedup
    * band table). Norms are computed once at build time, and the bucketed
    * layout means a query batch's probe join co-locates on label with no
    * corpus-side shuffle: only queries move, which is the point at
    * billions of vectors.
    */
  def persistIvfIndex(spark: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit =
    withNorm(spark, dir)
      .select("label", "vec_id", "embedding", "nrm")
      .write.mode("overwrite").bucketBy(buckets, "label").saveAsTable(table)

  /** ADMISSION: append one batch of vectors to a (possibly empty) IVF
    * index — the ANN twin of
    * [[graft.operators.TextAnalysis.bm25AdmitDocs]]. Pure map-side work:
    * norms are batch-local, rows land bucket-aligned by coarse label,
    * and the existing index is NEVER read or rewritten, which is what
    * makes continuous ingest O(batch). Unlike BM25 — whose df/stats are
    * corpus aggregates that admission stores as generations and search
    * folds — the IVF-Flat index carries no cross-vector statistics at
    * all, so a grown index IS the batch-built index up to row order and
    * file count, and search needs no fold.
    */
  def ivfAdmitVectors(batch: DataFrame, table: String,
      buckets: Int = 8): Unit =
    batch.withColumn("nrm", norm(col("embedding")))
      .select("label", "vec_id", "embedding", "nrm")
      .write.mode("append").bucketBy(buckets, "label").saveAsTable(table)

  /** Replay repair for the continuous IVF build — the vector twin of
    * `compactBm25Index`: an at-least-once source re-delivers whole
    * micro-batches, and a duplicated vector is WRONG at serving time
    * (the same vec_id fills two top-k slots). Admission rows are
    * deterministic per vector — (label, vec_id, embedding, nrm), norms
    * batch-local — so replay copies are EXACT duplicates and compaction
    * is the substring family's distinct rewrite of the bucketed index.
    * Unlike BM25 there are no derived df/stats generations, so this is a
    * single atomic temp+rename step: no torn window, no marker needed.
    * Returns the (files-before, files-after) pair.
    */
  def compactIvfIndex(spark: SparkSession, table: String): (Long, Long) =
    graft.operators.Dedup.compactBucketedTable(spark, table, "label")

  // -------------------------------------------------------------------------
  // Right-to-be-forgotten: deletion propagation through the ANN index
  // -------------------------------------------------------------------------

  /** The deterministic forget set (~7.7% of vec ids) — the embedding twin
    * of [[graft.operators.TextAnalysis.Bm25ForgetMod]]: a user-deletion
    * request must remove the user's vectors from the SERVING index, not
    * just the source table, or the index keeps answering with data the
    * pipeline no longer holds.
    */
  val IvfForgetMod = 13
  val IvfForgetRem = 5

  private[graft] def forgetVecIds(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables.load(spark, dir, "embeddings").select("vec_id")
      .filter(col("vec_id") % IvfForgetMod === IvfForgetRem)

  /** Delete the given vec_ids from a persisted IVF index: one atomic
    * bucket-aligned anti-join rewrite. IVF-Flat carries no cross-vector
    * statistics, so unlike BM25 there is nothing derived to rebuild and
    * no marker window — the single temp+rename IS the whole deletion.
    * Pivot shift is automatic: pivots are derived per search from the
    * index, so a forgotten min-vec_id member hands its label's pivot to
    * the next survivor. Idempotent (anti-join of absent keys); the
    * forget set is the bounded deletion request, hence broadcast.
    */
  def forgetIvfVectors(spark: SparkSession, table: String,
      forgetIds: DataFrame): (Long, Long) =
    graft.operators.Dedup.rewriteBucketedTable(spark, table, "label")(
      _.join(broadcast(forgetIds.select("vec_id")), Seq("vec_id"), "left_anti"))

  private[graft] val IvfFgTable = "ivf_fg_index"

  /** Continuous vector deletion: every micro-batch of arriving forget
    * requests is applied as one atomic anti-join rewrite — the ANN twin
    * of [[graft.operators.TextAnalysis.bm25ForgetStream]]. Anti-joins
    * compose and re-apply idempotently, so any chunking/redelivery of
    * the deletion stream lands on the batch-forget index.
    */
  def ivfForgetStream(forgetIds: DataFrame,
      table: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(forgetIds) { b => forgetIvfVectors(b.sparkSession, table, b); () }

  /** The plain bucketed IVF index build over a corpus dir — the shared
    * write behind [[persistIvfIndexIfStale]] and the forget-family gates
    * (`sim_ivf_forget` and the unified wave's ivf member).
    */
  private[graft] def ivfIndexWriteFor(spark: SparkSession, dir: String,
      table: String): Unit =
    withNorm(spark, dir)
      .select("label", "vec_id", "embedding", "nrm")
      .write.bucketBy(8, "label").saveAsTable(table)

  /** [[buildPqIndex]] over the full corpus dir — the forget-family build
    * (fit = membership = the whole corpus; forgetting deletes rows, it
    * does not re-train).
    */
  private[graft] def buildPqIndexFor(spark: SparkSession, dir: String,
      table: String, coarseTable: String, booksTable: String): Unit =
    buildPqIndex(spark, emb(spark, dir).select("vec_id", "embedding"),
      table, coarseTable, booksTable)

  /** `sim_ivf_forget`: build the dedicated index, forget the deletion
    * set, then run the standard IVF search against it. The result must
    * equal a search against an index built WITHOUT the forgotten vectors
    * (the oracle replays exactly that, pivot shift included). Build +
    * forget run under the build-then-mutate staleness gate, so
    * steady-state calls pay only the search.
    */
  def ivfForget(spark: SparkSession, dir: String): DataFrame = {
    graft.core.ModelTables.persistGroupMutatedIfStale(spark, dir,
      "ivf-forget:v1")(
      IvfFgTable -> (() => ivfIndexWriteFor(spark, dir, IvfFgTable)))(
      () => { forgetIvfVectors(spark, IvfFgTable, forgetVecIds(spark, dir)); () })
    ivfTopkAgainst(spark, dir, IvfFgTable)
  }

  /** Continuous index build: every micro-batch of arriving vectors is
    * admitted append-only ([[ivfAdmitVectors]]); the batchId rides along
    * so a sink that needs idempotence can fence replays (the gate's
    * single-writer replay makes the plain append exact — and
    * [[compactIvfIndex]] is the repair when the source actually
    * re-delivers).
    */
  def ivfIngestStream(newVectors: DataFrame, table: String)(
      ): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newVectors)(ivfAdmitVectors(_, table))

  // -------------------------------------------------------------------------
  // IVF rebalance / re-train (closing the index lifecycle)
  // -------------------------------------------------------------------------

  /** Tables for the TRAINED-quantizer (k-means) IVF lifecycle: lists are
    * learned-centroid clusters (so ingest under a frozen model actually
    * DRIFTS — a data-independent `label` list can't), and rebalance
    * re-trains them. The sibling of [[IvfIndexTable]] for the kmeans
    * family.
    */
  private[graft] val IvfRbTable = "ivf_rb_index"
  private[graft] val IvfRbModelTable = "ivf_rb_model"

  /** The skewed-ingest split for the rebalance gates: the coarse
    * quantizer is TRAINED on vectors with vec_id % 3 != 0; the remaining
    * third arrives later under the frozen stale model — the canonical
    * long-lived-index shape (FAISS: `train()` once, `add()` forever)
    * whose recall decays until a re-train.
    */
  val IvfRbIngestMod = 3

  /** Attach (cluster_id, nrm) to raw (vec_id, embedding) rows under an
    * in-hand centroid model — the map-only assignment every kmeans-IVF
    * write path shares (model travels as a K-struct literal; no join).
    */
  private def kmeansAssigned(batch: DataFrame,
      cents: Seq[(Int, Seq[Long])]): DataFrame =
    Clustering.withAssignment(
        batch.selectExpr("vec_id", "embedding", Clustering.quantizeSql), cents)
      .selectExpr("CAST(best.cid AS INT) AS cluster_id", "vec_id", "embedding")
      .withColumn("nrm", norm(col("embedding")))
      .select("cluster_id", "vec_id", "embedding", "nrm")

  /** TRAIN + BUILD: fit the integer-Lloyd coarse quantizer on `content`,
    * persist the K-row model, and write the index
    * (cluster_id, vec_id, embedding, nrm) BUCKETED by cluster_id — the
    * kmeans sibling of [[persistIvfIndex]]. Probe joins then co-locate on
    * the list id with no corpus-side shuffle.
    */
  private[graft] def buildKmeansIvf(spark: SparkSession, content: DataFrame,
      table: String, modelTable: String, buckets: Int = 8): Unit = {
    import spark.implicits._
    val cents = Clustering.fitCentroidsOn(
      content.selectExpr("vec_id", Clustering.quantizeSql), Clustering.K)
    cents.toDF("cid", "c").write.mode("overwrite").saveAsTable(modelTable)
    kmeansAssigned(content, cents)
      .write.bucketBy(buckets, "cluster_id").saveAsTable(table)
  }

  /** ADMISSION under the FROZEN coarse model: assign the batch against
    * the persisted centroids (one bounded K-row model read; map-only
    * assignment) and append bucket-aligned. O(batch) like
    * [[ivfAdmitVectors]] — but because lists are LEARNED, admission under
    * stale centroids is exactly how drift accumulates: yesterday's model
    * quantizes today's distribution, list shapes skew, recall decays.
    * [[rebalanceIvfIndex]] is the repair.
    */
  def ivfKmeansAdmit(batch: DataFrame, table: String, modelTable: String,
      buckets: Int = 8): Unit =
    kmeansAssigned(batch,
        Clustering.loadCentroids(batch.sparkSession, modelTable))
      .write.mode("append").bucketBy(buckets, "cluster_id").saveAsTable(table)

  /** REBALANCE / RE-TRAIN — the verb that closes the
    * build → serve → ingest → compact → forget lifecycle: re-fit the
    * coarse quantizer on the index's CURRENT content (the same
    * exact-integer Lloyd as the original train, so the result is
    * oracle-replayable), atomically rewrite every row under its new
    * nearest centroid (bucket-aligned temp+rename via
    * [[graft.operators.Dedup.rewriteBucketedTable]], torn-run recovery
    * inherited), then publish the new model. Afterwards the index is
    * BIT-IDENTICAL to one trained fresh on the current content — any
    * history of skewed ingests and forgets is fully repaired, which is
    * the strongest drift bound a re-train can give.
    *
    * Ordering: index first, model last. A crash between the two leaves
    * new lists under the old model — probes then rank against slightly
    * stale centroids but join the REAL list ids, so serving stays
    * correct (exactly the pre-rebalance drift state); re-running the
    * rebalance converges. Model-first would serve new centroids against
    * old list ids: rows probed under lists they no longer match.
    *
    * Scale shape: the fit is [[Clustering.fitCentroidsOn]]'s map-only
    * assignment + K×dim-cell update shuffle per round; the rewrite is
    * one full pass over the index (the unavoidable cost of moving rows
    * between lists), bucket-aligned on write. Driver traffic is K×dim
    * longs per round — model-scale only.
    */
  def rebalanceIvfIndex(spark: SparkSession, table: String,
      modelTable: String): (Long, Long) = {
    import spark.implicits._
    // current content, not a cached listing (see rebalanceIfSkewed)
    spark.catalog.refreshTable(table)
    val cents = Clustering.fitCentroidsOn(
      spark.table(table).selectExpr("vec_id", Clustering.quantizeSql),
      Clustering.K)
    val files = graft.operators.Dedup.rewriteBucketedTable(spark, table,
      "cluster_id")(df =>
        Clustering.withAssignment(
            df.selectExpr("vec_id", "embedding", "nrm", Clustering.quantizeSql),
            cents)
          .selectExpr("CAST(best.cid AS INT) AS cluster_id", "vec_id",
            "embedding", "nrm"))
    cents.toDF("cid", "c").write.mode("overwrite").saveAsTable(modelTable)
    files
  }

  /** Skew-TRIGGERED rebalance — the policy loop a standing index runs
    * after every maintenance window: measure list imbalance (largest list
    * over the balanced ideal n/K — one K-row aggregation over the
    * bucketed table, the same histogram the serving tier's tail latency
    * is made of) and re-train only when it exceeds `maxSkew`. Returns
    * (measured skew, whether a rebalance ran) so callers can log the
    * decision. When no rebalance runs, the K-row histogram is the whole
    * cost — the full-pass re-train is paid only on real drift, which is
    * what makes continuous ingest + periodic policy checks sustainable
    * on a long-lived index.
    */
  def rebalanceIfSkewed(spark: SparkSession, table: String,
      modelTable: String, maxSkew: Double = 2.0): (Double, Boolean) = {
    val skew = listSkew(spark, table)
    val run = skew > maxSkew
    if (run) { rebalanceIvfIndex(spark, table, modelTable); () }
    (skew, run)
  }

  /** Largest cluster_id list over the balanced ideal n/K (0 when empty).
    * The policies read a LIVE index between admit appends: the cached
    * file listing is dropped first, or every window after the first would
    * re-measure the first window's generation (streaming foreachBatch
    * appends do not invalidate the catalog's relation cache).
    */
  private def listSkew(spark: SparkSession, table: String): Double = {
    spark.catalog.refreshTable(table)
    val sizes = spark.table(table).groupBy("cluster_id").count()
      .collect().map(_.getLong(1))
    val n = sizes.sum
    if (n == 0L) 0.0 else sizes.max * Clustering.K.toDouble / n
  }

  /** Serve a persisted kmeans-IVF index: queries (every 20th surviving
    * vec_id — drawn from the INDEX, so forgotten vectors neither answer
    * nor ask) rank the persisted centroids by the exact integer distance
    * of the fit, probe the [[NProbe]] nearest lists, and brute-force only
    * those rows. The lists are the table content joined in place on the
    * bucketed cluster_id — only queries move.
    */
  def ivfKmeansServe(spark: SparkSession, table: String, modelTable: String,
      nprobe: Int = NProbe): DataFrame =
    ivfKmeansSearch(spark, spark.table(table),
      Clustering.loadCentroids(spark, modelTable), nprobe)

  /** Continuous admission under the frozen model — the kmeans sibling of
    * [[ivfIngestStream]]: each arriving micro-batch is assigned against
    * the persisted centroids and appended bucket-aligned. The model is
    * read per batch (K rows — bounded) but never written here; re-training
    * is [[rebalanceIvfIndex]]'s job, OUTSIDE the stream, exactly like
    * BM25's compaction discipline.
    */
  def ivfKmeansAdmitStream(newVectors: DataFrame, table: String,
      modelTable: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newVectors)(ivfKmeansAdmit(_, table, modelTable))

  /** `sim_ivf_rebalance`: the FULL lifecycle, end to end — train + build
    * on two-thirds of the corpus, ingest the remaining third under the
    * frozen stale model ([[ivfKmeansAdmit]] — the drift), delete the
    * forget set ([[IvfForgetMod]] — the shrink), REBALANCE
    * ([[rebalanceIvfIndex]] — the repair), then serve. Because rebalance
    * re-trains on current content, the served result must equal an index
    * trained FRESH on exactly (corpus minus forget set) — the oracle
    * replays that fresh fit (Lloyd over the filtered source) and the
    * probe chain in SQL; no trace of the skewed history may survive.
    * Runs under the build-then-mutate staleness gate, so steady-state
    * calls pay only the search.
    */
  def ivfRebalance(spark: SparkSession, dir: String): DataFrame = {
    val all = withNorm(spark, dir).select("vec_id", "embedding")
    graft.core.ModelTables.persistGroupMutatedIfStale(spark, dir,
      "ivf-rebalance:v1")(
      IvfRbModelTable -> (() => ()),
      IvfRbTable -> (() => buildKmeansIvf(spark,
        all.filter(col("vec_id") % IvfRbIngestMod =!= 0),
        IvfRbTable, IvfRbModelTable)))(
      () => {
        ivfKmeansAdmit(all.filter(col("vec_id") % IvfRbIngestMod === 0),
          IvfRbTable, IvfRbModelTable)
        graft.operators.Dedup.rewriteBucketedTable(spark, IvfRbTable,
          "cluster_id")(
          _.join(broadcast(forgetVecIds(spark, dir)), Seq("vec_id"), "left_anti"))
        rebalanceIvfIndex(spark, IvfRbTable, IvfRbModelTable)
        ()
      })
    ivfKmeansServe(spark, IvfRbTable, IvfRbModelTable)
  }

  /** The oracle replays the POST-REBALANCE state from first principles:
    * Lloyd re-fit over the surviving corpus (embeddings minus the forget
    * set — the shared [[Clustering.lloydCtes]] chain, prefix `rb`), the
    * assignment against the re-fit model (rba3 = the rebalanced lists),
    * and the standard probe/brute-force/top-k chain. The skewed ingest
    * history appears NOWHERE — that absence is the rebalance contract.
    */
  val ivfRebalanceOracle: String = {
    val survive = s"NOT (vec_id % $IvfForgetMod = $IvfForgetRem)"
    s"""WITH qf AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${Clustering.Scale}) AS BIGINT)) AS q
       |  FROM embeddings WHERE $survive
       |),
       |${Clustering.lloydCtes("qf", "rb", 64, Clustering.K)},
       |e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings WHERE $survive
       |),
       |qv AS (
       |  SELECT q.vec_id AS q_id, q.q AS q_q, e.embedding AS q_emb, e.nrm AS q_nrm
       |  FROM qf q JOIN e ON e.vec_id = q.vec_id WHERE q.vec_id % 20 = 0
       |),
       |probe AS (
       |  SELECT q_id, cid FROM (
       |    SELECT qv.q_id, c.cid,
       |      row_number() OVER (PARTITION BY qv.q_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(qv.q_q, c.c),
       |          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT), c.cid) AS rn
       |    FROM qv CROSS JOIN rbc3 c
       |  ) WHERE rn <= $NProbe
       |),
       |scored AS (
       |  SELECT p.q_id, a.vec_id AS neighbor_id,
       |    ${duckDot("e.embedding", "qv.q_emb")} / (e.nrm * qv.q_nrm) AS cosine
       |  FROM probe p
       |  JOIN rba3 a ON a.cluster_id = p.cid
       |  JOIN e ON e.vec_id = a.vec_id
       |  JOIN qv ON qv.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id
       |)
       |SELECT q_id, rank, neighbor_id, cosine FROM (
       |  SELECT q_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  /** The `stream_ivf_policy` hollow-out: how many of the commissioning
    * model's smallest lists (by count, cid tie-break) the gate's
    * right-to-be-forgotten step deletes. Four of eight lists removes
    * ~40-48% of the rows (measured across SFs) while leaving the largest
    * list untouched, so the measured imbalance roughly doubles — the
    * "one tenant leaves" shape that hollows a long-lived index.
    */
  val IvfPolicyDoomedLists = 4

  /** The policy gate's re-train trigger. Calibrated against the skew
    * trajectory measured on the fixture corpora (README, round 18:
    * steady-state skew under uniform admission is 1.07-1.36 across
    * sf0.001/0.01/0.1, the post-hollow-out spike is 2.14-2.35) — 1.7 sits
    * between with ~25% margin both ways, so uniform maintenance windows
    * must SKIP (paying only the K-row histogram) and the post-forget
    * window must FIRE. `stream_ivf_policy` re-checks both outcomes on
    * every run.
    */
  val IvfPolicySkewMax = 1.7

  /** `stream_ivf_policy` oracle: the final index is (corpus minus the
    * vectors the COMMISSIONING model assigns to its
    * [[IvfPolicyDoomedLists]] smallest lists), re-trained fresh — replay
    * the commissioning fit on the build two-thirds, assign the full
    * corpus, drop the doomed lists' members, re-fit on the survivors,
    * serve. Schedule-independent: any maintenance window's decision
    * during the stream is invisible to the final state because a fired
    * re-train is bit-identical to a fresh fit on current content.
    */
  val ivfPolicyOracle: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${Clustering.Scale}) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |qb AS (SELECT vec_id, q FROM q WHERE vec_id % $IvfRbIngestMod <> 0),
       |${Clustering.lloydCtes("qb", "ib", 64, Clustering.K)},
       |aall AS (${Clustering.oracleAssignSql("q", "ibc3")}),
       |sizes AS (SELECT cluster_id, count(*) AS n FROM aall GROUP BY cluster_id),
       |doomed AS (
       |  SELECT cluster_id FROM (
       |    SELECT cluster_id, row_number() OVER (ORDER BY n, cluster_id) AS rn
       |    FROM sizes
       |  ) WHERE rn <= $IvfPolicyDoomedLists
       |),
       |qs AS (
       |  SELECT q.vec_id, q.q FROM q JOIN aall a ON a.vec_id = q.vec_id
       |  WHERE a.cluster_id NOT IN (SELECT cluster_id FROM doomed)
       |),
       |${Clustering.lloydCtes("qs", "rb", 64, Clustering.K)},
       |e AS (
       |  SELECT s.vec_id, em.embedding,
       |    sqrt(${duckDot("em.embedding", "em.embedding")}) AS nrm
       |  FROM qs s JOIN embeddings em ON em.vec_id = s.vec_id
       |),
       |qv AS (
       |  SELECT s.vec_id AS q_id, s.q AS q_q, e.embedding AS q_emb, e.nrm AS q_nrm
       |  FROM qs s JOIN e ON e.vec_id = s.vec_id WHERE s.vec_id % 20 = 0
       |),
       |probe AS (
       |  SELECT q_id, cid FROM (
       |    SELECT qv.q_id, c.cid,
       |      row_number() OVER (PARTITION BY qv.q_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(qv.q_q, c.c),
       |          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT), c.cid) AS rn
       |    FROM qv CROSS JOIN rbc3 c
       |  ) WHERE rn <= $NProbe
       |),
       |scored AS (
       |  SELECT p.q_id, a.vec_id AS neighbor_id,
       |    ${duckDot("e.embedding", "qv.q_emb")} / (e.nrm * qv.q_nrm) AS cosine
       |  FROM probe p
       |  JOIN rba3 a ON a.cluster_id = p.cid
       |  JOIN e ON e.vec_id = a.vec_id
       |  JOIN qv ON qv.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id
       |)
       |SELECT q_id, rank, neighbor_id, cosine FROM (
       |  SELECT q_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  /** The standing IVF index table the hybrid-retrieval apply path serves
    * from, maintained under the [[graft.core.ModelTables]] fit-once
    * staleness discipline: rebuilt only when the source dir's content
    * changes, so repeated hybrid searches (and the eval loop) pay the
    * index build exactly once per corpus snapshot.
    */
  val IvfIndexTable = "ivf_index"
  private val IvfIndexFingerprint = "ivf-flat-v1:buckets=8"

  def persistIvfIndexIfStale(spark: SparkSession, dir: String): Unit =
    graft.core.ModelTables.persistIfStale(spark, dir, IvfIndexTable,
      IvfIndexFingerprint)(ivfIndexWriteFor(spark, dir, IvfIndexTable))

  /** [[ivfTopk]] against a pre-built index table: identical results, but
    * the corpus is never re-normed or re-shuffled — pivots come from a
    * shuffle-free aggregate over the bucketed table, and the probe join
    * reads the corpus in place.
    */
  def ivfTopkAgainst(spark: SparkSession, dir: String, table: String): DataFrame =
    ivfLabelSearch(spark, dir, spark.table(table), NProbe, strided(20),
      includeSelf = false)

  // -------------------------------------------------------------------------
  // IVF over LEARNED k-means centroids (the trained-quantizer recall path)
  // -------------------------------------------------------------------------

  /** IVF whose coarse lists are the [[graft.operators.Clustering]]
    * integer-Lloyd clusters instead of the data-independent `label`
    * column — the composition a production ANN index runs (FAISS
    * IVF-Flat: train k-means, assign lists, probe nearest centroids).
    * The label-IVF ([[ivfTopk]]) documents its recall floor: labels
    * carry no cosine signal, so probing them ≈ random sampling. Learned
    * centroids partition the actual vector geometry, so the nprobe
    * nearest lists concentrate the true neighbors — the recall spec pins
    * the margin over the scanned fraction.
    *
    * Determinism: centroids, assignments, and the query→centroid probe
    * ranking all live in the same quantized-integer space as the k-means
    * oracle (exact BIGINT distances, (dist, cid) tie-break), and the
    * final scoring is the family's shared float_dot cosine — so the row
    * set hash-matches an oracle that replays Lloyd's and the probe in
    * SQL.
    *
    * Scale shape: ONE map-only pass attaches the list id to the corpus
    * ([[kmeansAssigned]] — centroids travel as a K-struct literal), then
    * [[flatSearch]]; over an index bucketed by cluster_id only queries move.
    */
  def ivfKmeansTopk(spark: SparkSession, dir: String): DataFrame =
    ivfKmeansTopkProbe(spark, dir, NProbe)

  /** [[ivfKmeansTopk]] with an explicit probe width. Fit-once/apply-many:
    * the k-means model is persisted through
    * [[Clustering.persistCentroids]] (a no-op when already current for
    * this (dir, hyperparameter) pair) and the search composes over the
    * stored table — repeated probes (a recall sweep, a query-batch loop)
    * pay the iterative Lloyd fit exactly once, not per invocation.
    */
  def ivfKmeansTopkProbe(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    Clustering.persistCentroids(spark, dir)
    ivfKmeansTopkAgainst(spark, dir, Clustering.KmeansModelTable, nprobe)
  }

  /** [[ivfKmeansTopk]] against an explicit persisted centroid table — the
    * apply path ([[ivfTopkAgainst]]'s trained-quantizer sibling): the K
    * model rows are the ONLY thing pulled to the driver (one collect
    * job), and the plan is identical to the fit-time search.
    */
  def ivfKmeansTopkAgainst(spark: SparkSession, dir: String, table: String,
      nprobe: Int = NProbe): DataFrame =
    ivfKmeansTopkWith(spark, dir, nprobe, Clustering.loadCentroids(spark, table))

  /** The fit-inline form — the spec's reference point for fit/apply
    * equality; production paths go through the persisted model.
    */
  private[graft] def ivfKmeansTopkInline(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame =
    ivfKmeansTopkWith(spark, dir, nprobe, Clustering.fitCentroids(spark, dir))

  /** The search over an in-hand centroid set, lists assigned inline. */
  private def ivfKmeansTopkWith(spark: SparkSession, dir: String, nprobe: Int,
      cents: Seq[(Int, Seq[Long])]): DataFrame =
    ivfKmeansSearch(spark,
      kmeansAssigned(emb(spark, dir).select("vec_id", "embedding"), cents),
      cents, nprobe)

  /** Kmeans-IVF over `corpus` (cluster_id, vec_id, embedding, nrm): a
    * persisted index bucketed by cluster_id, or the corpus dir assigned
    * inline. Queries are its every-20th rows, quantized like the fit, so
    * the probe ranks centroids in the fit's exact integer space.
    */
  private def ivfKmeansSearch(spark: SparkSession, corpus: DataFrame,
      cents: Seq[(Int, Seq[Long])], nprobe: Int): DataFrame = {
    val q = corpus.filter(strided(20))
      .selectExpr("vec_id", "embedding", "nrm", Clustering.quantizeSql)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("q").as("q_q"))
    flatSearch(q, corpus, centroidLists(spark, cents), nprobe, includeSelf = false)
  }

  /** The oracle replays the k-means fit (shared CTE chain — identical
    * model c3 and lists a3), ranks centroids per query by the same exact
    * integer distance, and brute-forces the probed lists.
    */
  val ivfKmeansOracle: String =
    s"""WITH ${Clustering.kmeansOracleCtes},
       |e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |),
       |qv AS (
       |  SELECT q.vec_id AS q_id, q.q AS q_q, e.embedding AS q_emb, e.nrm AS q_nrm
       |  FROM q JOIN e ON e.vec_id = q.vec_id WHERE q.vec_id % 20 = 0
       |),
       |probe AS (
       |  SELECT q_id, cid FROM (
       |    SELECT qv.q_id, c.cid,
       |      row_number() OVER (PARTITION BY qv.q_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(qv.q_q, c.c),
       |          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT), c.cid) AS rn
       |    FROM qv CROSS JOIN c3 c
       |  ) WHERE rn <= $NProbe
       |),
       |scored AS (
       |  SELECT p.q_id, a.vec_id AS neighbor_id,
       |    ${duckDot("e.embedding", "qv.q_emb")} / (e.nrm * qv.q_nrm) AS cosine
       |  FROM probe p
       |  JOIN a3 a ON a.cluster_id = p.cid
       |  JOIN e ON e.vec_id = a.vec_id
       |  JOIN qv ON qv.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id
       |)
       |SELECT q_id, rank, neighbor_id, cosine FROM (
       |  SELECT q_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // -------------------------------------------------------------------------
  // IVF-PQ (residual product quantization — the compressed 100 TB layout)
  // -------------------------------------------------------------------------

  /** Slices per vector, dims per slice, codewords per slice codebook.
    * 64-dim vectors → 4 slices × 16 dims, 8 codewords each: a vector's
    * code is 4 small ints (vs 64 floats) — the memory/IO compression
    * that makes billion-scale ANN fit in RAM (FAISS IVFPQ layout:
    * coarse quantizer + per-slice residual codebooks + ADC scoring).
    */
  val PqM = 4
  val PqSliceDim = 16
  val PqKc = 8

  /** ADC candidate-pool width for the exact re-rank stage (the FAISS
    * `IndexRefine` discipline): ADC over the compressed codes nominates
    * PqRefine candidates per query, then ONLY those rows' original
    * vectors are read for exact scoring. 5× the final k is the standard
    * refine factor; the fixture's uniform-random embeddings are
    * ANN-adversarial (neighbor gaps are tiny fluctuations around the
    * concentrated pairwise distance, so 12-bit ADC alone ranks poorly —
    * measured recall@10 0.13 without refine, 0.39 with, vs 0.60
    * reachable within the probed lists).
    */
  val PqRefine = 5 * TopK

  val PqModelTable = "graft_pq_model"

  /** The PQ staleness fingerprint embeds the COARSE model's fingerprint:
    * codebooks are fit on residuals against the coarse centroids, so a
    * coarse hyperparameter change invalidates the codebooks too.
    */
  private[graft] val PqFingerprint =
    s"pq.v1;m=$PqM;kc=$PqKc;coarse=${Clustering.KmeansFingerprint}"

  /** Quantized content + coarse list id + integer residual r = q - c_list,
    * for ANY (vec_id, embedding) frame. MAP-ONLY: the coarse model travels
    * as a K-struct literal (no join, no shuffle); residuals stay in exact
    * integer space so every later slice fit / encode / ADC distance is
    * oracle-replayable.
    */
  private[graft] def pqResidualsOn(content: DataFrame,
      coarse: Seq[(Int, Seq[Long])]): DataFrame =
    Clustering.withAssignment(
        content.selectExpr("vec_id", Clustering.quantizeSql), coarse)
      .withColumn("r", expr(
        s"""zip_with(q, element_at(${Clustering.centroidExpr(coarse)},
           |  best.cid + 1).c, (a, b) -> a - b)""".stripMargin))
      .selectExpr("vec_id", "q", "best.cid AS cluster_id", "r")

  /** FIT: one independent integer-Lloyd per slice over the residual
    * slices of `content` — same seeds/update/tie-break contract as the
    * coarse fit ([[Clustering.fitCentroidsOn]]), so the whole model is
    * replayable in SQL. Returns (slice, cid, codeword). Driver traffic
    * per slice is the same bounded K×dim the coarse fit pays.
    */
  private[graft] def fitPqCodebooksOn(content: DataFrame,
      coarse: Seq[(Int, Seq[Long])]): Seq[(Int, Int, Seq[Long])] = {
    // FUSED fit — provably bit-identical to running
    // [[Clustering.fitCentroidsOn]] once per slice (PqFitSpec pins it),
    // but 3 Spark jobs over a cached narrow frame instead of PqM×Iters
    // jobs each recomputing the residual lineage (scan + quantize +
    // coarse argmin) from scratch:
    //  - the per-slice seed draws all pick the SAME PqKc rows (the order
    //    key (md5(vec_id), vec_id) is slice-independent), so ONE
    //    TakeOrdered job fetches every slice's seeds at once;
    //  - each Lloyd update round aggregates integer sums per
    //    (slice, cid, pos) — slices are independent, so one job computes
    //    all PqM updates; integer addition is order-independent, so the
    //    fused groupBy lands on exactly the per-slice sums.
    val res = pqResidualsOn(content, coarse).select("vec_id", "r").persist()
    try {
      val seedRows = res
        .withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy("h", "vec_id").limit(PqKc)
        .select("r").collect()
      var books: Seq[Seq[(Int, Seq[Long])]] = (0 until PqM).map { m =>
        seedRows.zipWithIndex.map { case (row, i) =>
          i -> row.getSeq[Long](0).slice(m * PqSliceDim, (m + 1) * PqSliceDim).toSeq
        }.toSeq
      }
      for (_ <- 1 until Clustering.Iters) {
        // per slice m: the same argmin struct (dist, cid tie-break) the
        // per-slice assignment uses, over slice m of r
        val branches = (0 until PqM).map { m =>
          s"""named_struct('m', $m,
             |  'cid', array_min(transform(${Clustering.centroidExpr(books(m))},
             |    s -> named_struct(
             |      'dist', aggregate(zip_with(slice(r, ${m * PqSliceDim + 1}, $PqSliceDim),
             |                                 s.c, (a, b) -> (a - b) * (a - b)),
             |              0L, (acc, x) -> acc + x),
             |      'cid', s.cid))).cid,
             |  's', slice(r, ${m * PqSliceDim + 1}, $PqSliceDim))""".stripMargin
        }
        val updated = res
          .select(explode(expr(branches.mkString("array(", ", ", ")"))).as("e"))
          .select(col("e.m").as("m"), col("e.cid").as("cid"),
            posexplode(col("e.s")).as(Seq("pos", "v")))
          .groupBy("m", "cid", "pos")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .selectExpr("m", "cid", "pos",
            "CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS v")
          .collect()
          .groupBy(r2 => (r2.getInt(0), r2.getInt(1)))
          .map { case (key, rows) =>
            key -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq
          }
        // a cluster that lost all members keeps its previous codeword
        books = books.zipWithIndex.map { case (bk, m) =>
          bk.map { case (cid, old) => cid -> updated.getOrElse((m, cid), old) }
        }
      }
      books.zipWithIndex.flatMap { case (bk, m) =>
        bk.map { case (cid, c) => (m, cid, c) }
      }
    } finally { res.unpersist(); () }
  }

  private[graft] def fitPqCodebooks(spark: SparkSession, dir: String,
      coarse: Seq[(Int, Seq[Long])]): Seq[(Int, Int, Seq[Long])] =
    fitPqCodebooksOn(emb(spark, dir), coarse)

  /** (m, cid, codeword) rows -> per-slice codebook seq (index m). */
  private def groupBooks(rows: Seq[(Int, Int, Seq[Long])]): Seq[Seq[(Int, Seq[Long])]] =
    (0 until PqM).map(m => rows.filter(_._1 == m).map(t => t._2 -> t._3))

  /** Persist the PQ model (PqM×PqKc rows of (m, cid, c)) through the
    * fit/apply discipline; gates the coarse centroid model first, so one
    * call stands up the full IVF-PQ index. Re-calls against a current
    * model are metadata probes — zero fit jobs.
    */
  def persistPqModel(spark: SparkSession, dir: String,
      table: String = PqModelTable): Unit = {
    Clustering.persistCentroids(spark, dir)
    import spark.implicits._
    graft.core.ModelTables.persistIfStale(spark, dir, table, PqFingerprint) {
      val coarse = Clustering.loadCentroids(spark, Clustering.KmeansModelTable)
      fitPqCodebooks(spark, dir, coarse).toDF("m", "cid", "c")
        .write.mode("overwrite").saveAsTable(table)
    }
  }

  private[graft] def loadPqBooks(spark: SparkSession, table: String): Seq[Seq[(Int, Seq[Long])]] =
    groupBooks(spark.table(table).select("m", "cid", "c").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toSeq)).toSeq)

  /** ANN search over the IVF-PQ index: fit-once (gated persist), then
    * apply against the stored models.
    */
  def pqTopk(spark: SparkSession, dir: String): DataFrame = {
    persistPqModel(spark, dir)
    pqTopkAgainst(spark, dir, Clustering.KmeansModelTable, PqModelTable, NProbe)
  }

  /** The APPLY path against the stored models: [[pqSearch]] over the
    * corpus encoded inline ([[encodePq]], map-only — the models travel as
    * literals and the corpus never shuffles). `refine` is the ADC pool
    * width, the recall knob that binds once the probed lists cover the
    * truth (tools.RecallReport).
    */
  def pqTopkAgainst(spark: SparkSession, dir: String, coarseTable: String,
      pqTable: String, nprobe: Int = NProbe, refine: Int = PqRefine): DataFrame =
    pqTopkWith(spark, dir, Clustering.loadCentroids(spark, coarseTable),
      loadPqBooks(spark, pqTable), nprobe, refine)

  /** The fit-inline form — the spec's reference for fit/apply equality. */
  private[graft] def pqTopkInline(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val coarse = Clustering.fitCentroids(spark, dir)
    pqTopkWith(spark, dir, coarse,
      groupBooks(fitPqCodebooks(spark, dir, coarse)), nprobe)
  }

  /** The search with the corpus dir encoded inline under in-hand models. */
  private def pqTopkWith(spark: SparkSession, dir: String,
      coarse: Seq[(Int, Seq[Long])], books: Seq[Seq[(Int, Seq[Long])]],
      nprobe: Int, refine: Int = PqRefine): DataFrame =
    pqSearch(spark, dir, None, coarse, books, strided(20), nprobe, refine)

  /** The oracle replays the coarse fit (shared CTE chain), the residuals,
    * all PqM slice fits, the encode, and the ADC search — exact integer
    * arithmetic end-to-end.
    */
  val pqTopkOracle: String = {
    val sliceCtes = (0 until PqM).map { m =>
      s"""s$m AS (SELECT vec_id, list_slice(r, ${m * PqSliceDim + 1}, ${(m + 1) * PqSliceDim}) AS q FROM res),
         |${Clustering.lloydCtes(s"s$m", s"m$m", PqSliceDim, PqKc)}""".stripMargin
    }.mkString(",\n")
    val encJoins = (0 until PqM).map(m =>
      s"JOIN m${m}a3 e$m ON e$m.vec_id = res.vec_id JOIN m${m}c3 w$m ON w$m.cid = e$m.cluster_id")
      .mkString("\n  ")
    val wordConcat = (0 until PqM).map(m => s"w$m.c").reduce((a, b) => s"list_concat($a, $b)")
    s"""WITH ${Clustering.kmeansOracleCtes},
       |res AS (
       |  SELECT q.vec_id, a.cluster_id,
       |    list_transform(list_zip(q.q, c.c), x -> x[1] - x[2]) AS r
       |  FROM q JOIN a3 a USING (vec_id) JOIN c3 c ON c.cid = a.cluster_id
       |),
       |$sliceCtes,
       |rec AS (
       |  SELECT res.vec_id, res.cluster_id,
       |    list_transform(list_zip(cc.c, $wordConcat), x -> x[1] + x[2]) AS rec
       |  FROM res
       |  JOIN c3 cc ON cc.cid = res.cluster_id
       |  $encJoins
       |),
       |qv AS (SELECT vec_id AS q_id, q AS q_q FROM q WHERE vec_id % 20 = 0),
       |probe AS (
       |  SELECT q_id, q_q, cid FROM (
       |    SELECT qv.q_id, qv.q_q, c.cid,
       |      row_number() OVER (PARTITION BY qv.q_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(qv.q_q, c.c),
       |          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT), c.cid) AS rn
       |    FROM qv CROSS JOIN c3 c
       |  ) WHERE rn <= $NProbe
       |),
       |scored AS (
       |  SELECT p.q_id, r.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(p.q_q, r.rec),
       |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS adc_dist
       |  FROM probe p JOIN rec r ON r.cluster_id = p.cid AND r.vec_id <> p.q_id
       |),
       |pool AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q_id, neighbor_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, neighbor_id) AS arn
       |    FROM scored
       |  ) WHERE arn <= $PqRefine
       |),
       |exactd AS (
       |  SELECT p.q_id, p.neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(qv.q_q, e.q),
       |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist
       |  FROM pool p JOIN qv ON qv.q_id = p.q_id JOIN q e ON e.vec_id = p.neighbor_id
       |)
       |SELECT q_id, rank, neighbor_id, dist FROM (
       |  SELECT q_id, neighbor_id, dist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dist, neighbor_id) AS rank
       |  FROM exactd
       |)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // -------------------------------------------------------------------------
  // IVF-PQ lifecycle (persisted code index: build -> admit -> forget ->
  // re-train -> serve — the FAISS train()/add()/remove_ids()/re-train loop)
  // -------------------------------------------------------------------------

  /** ENCODE arbitrary (vec_id, embedding) content under IN-HAND models —
    * map-only (coarse centroids and all slice codebooks travel as
    * literals): each row gets its coarse list id and PqM per-slice codes.
    * This is the ONLY thing the persisted PQ index stores per vector —
    * 1 + PqM small ints instead of 64 floats, the compression that makes
    * a billion-vector index fit executor RAM; original vectors stay in
    * the base table (the cold store) and are read back only for
    * re-ranking pools and re-trains.
    */
  private def encodePq(content: DataFrame, coarse: Seq[(Int, Seq[Long])],
      books: Seq[Seq[(Int, Seq[Long])]]): DataFrame = {
    // code m: argmin over slice m's codebook of the residual `r`, with the
    // fit's (dist, cid) tie-break
    val codes = books.map(Clustering.centroidExpr).zipWithIndex.map { case (book, m) =>
      s"""array_min(transform($book, s -> named_struct(
         |  'dist', ${sqL2(s"slice(r, ${m * PqSliceDim + 1}, $PqSliceDim)", "s.c")},
         |  'cid', s.cid))).cid""".stripMargin
    }
    pqResidualsOn(content, coarse)
      .selectExpr("CAST(cluster_id AS INT) AS cluster_id", "vec_id",
        codes.mkString("array(", ", ", ") AS code"))
  }

  /** TRAIN + BUILD the persisted IVF-PQ index: fit the coarse quantizer
    * on `content` (integer Lloyd), fit the PqM slice codebooks on its
    * residuals, persist both models, and write the code index
    * (cluster_id, vec_id, code) BUCKETED by cluster_id — probe joins then
    * co-locate on the list id with no corpus-side shuffle. The PQ sibling
    * of [[buildKmeansIvf]].
    */
  private[graft] def buildPqIndex(spark: SparkSession, content: DataFrame,
      table: String, coarseTable: String, booksTable: String,
      buckets: Int = 8): Unit = {
    import spark.implicits._
    // three full passes read `content` (coarse fit, residual fit, encode) —
    // one materialization, released before returning
    val c = content.persist()
    try {
      val coarse = Clustering.fitCentroidsOn(
        c.selectExpr("vec_id", Clustering.quantizeSql), Clustering.K)
      val bookRows = fitPqCodebooksOn(c, coarse)
      coarse.toDF("cid", "c").write.mode("overwrite").saveAsTable(coarseTable)
      bookRows.toDF("m", "cid", "c").write.mode("overwrite").saveAsTable(booksTable)
      encodePq(c, coarse, groupBooks(bookRows))
        .write.bucketBy(buckets, "cluster_id").saveAsTable(table)
    } finally { c.unpersist(); () }
  }

  /** ADMISSION under the FROZEN models (FAISS `add()` after `train()`):
    * encode the batch against the persisted coarse centroids + slice
    * codebooks (two bounded model reads — K and PqM×PqKc rows; the encode
    * itself is map-only) and append bucket-aligned. O(batch), the
    * existing index never read or rewritten. Encoding is per-row
    * deterministic, so any chunking of an arriving stream grows the
    * identical index — and admission under stale codebooks is exactly
    * how PQ drift accumulates (yesterday's codebooks quantize today's
    * distribution); [[retrainPq]] is the repair.
    */
  def pqAdmit(batch: DataFrame, table: String, coarseTable: String,
      booksTable: String, buckets: Int = 8): Unit = {
    val spark = batch.sparkSession
    encodePq(batch, Clustering.loadCentroids(spark, coarseTable),
        loadPqBooks(spark, booksTable))
      .write.mode("append").bucketBy(buckets, "cluster_id").saveAsTable(table)
  }

  /** Continuous admission — the PQ sibling of [[ivfKmeansAdmitStream]]:
    * each arriving micro-batch is encoded under the frozen models and
    * appended bucket-aligned. Models are read per batch (bounded rows)
    * but never written here; re-training is [[retrainPq]]'s job, OUTSIDE
    * the stream, exactly like the BM25/IVF maintenance discipline.
    */
  def pqAdmitStream(newVectors: DataFrame, table: String, coarseTable: String,
      booksTable: String, checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newVectors, checkpoint)(pqAdmit(_, table, coarseTable, booksTable))

  /** Replay repair for continuous PQ admission — [[compactIvfIndex]]'s
    * sibling on the code index: an at-least-once source re-delivering a
    * micro-batch appends exact duplicate (cluster_id, vec_id, code) rows
    * (encoding under frozen models is per-row deterministic), and a
    * duplicated vec_id fills two ADC pool slots at serving time. No
    * derived stats ⇒ a single atomic distinct rewrite, no marker window.
    */
  def compactPqIndex(spark: SparkSession, table: String): (Long, Long) =
    graft.operators.Dedup.compactBucketedTable(spark, table, "cluster_id")

  /** Delete the given vec_ids from a persisted PQ index: one atomic
    * bucket-aligned anti-join rewrite ([[graft.operators.Dedup
    * .rewriteBucketedTable]] — torn-run recovery inherited). Like
    * IVF-Flat ([[forgetIvfVectors]]) the code index carries no
    * cross-vector statistics, so there is nothing derived to rebuild and
    * no marker window — the single temp+rename IS the whole deletion.
    * Idempotent; the forget set is the bounded deletion request, hence
    * broadcast.
    */
  def forgetPqVectors(spark: SparkSession, table: String,
      forgetIds: DataFrame): (Long, Long) =
    graft.operators.Dedup.rewriteBucketedTable(spark, table, "cluster_id")(
      _.join(broadcast(forgetIds.select("vec_id")), Seq("vec_id"), "left_anti"))

  /** RE-TRAIN — the codebook-drift repair that closes the PQ lifecycle:
    * re-fit the coarse quantizer AND all PqM slice codebooks on the
    * index's CURRENT content, re-encode every surviving vector, rewrite
    * the index atomically, then publish the new models. Afterwards the
    * index is BIT-IDENTICAL to one built fresh on the current content
    * ([[buildPqIndex]] over the survivors) — any history of skewed
    * admits under stale codebooks and forgets is fully repaired.
    *
    * Codes are LOSSY, so the re-fit reads original vectors back from the
    * base table (the cold store), restricted to surviving index ids —
    * one id-join per fit/encode pass. That join is the unavoidable cost
    * of a PQ re-train (FAISS re-trains from raw vectors too); admission
    * and serving never pay it.
    *
    * Ordering: index first, models last (the [[rebalanceIvfIndex]]
    * discipline). The torn window here is WORSE than IVF's — new codes
    * decoded with old codebooks reconstruct garbage, so ADC nomination
    * degrades toward random and recall drops — but served results stay
    * VALID (the exact re-rank scores original vectors, so returned
    * distances are always true distances of real pool members), and
    * re-running the re-train converges: the fit depends only on (base
    * table, surviving ids), both unchanged by the crash. Model-first
    * would serve the same garbage window with no idempotent repair
    * ordering, so index-first is strictly better.
    */
  def retrainPq(spark: SparkSession, dir: String, table: String,
      coarseTable: String, booksTable: String): (Long, Long) = {
    import spark.implicits._
    val base = emb(spark, dir).select("vec_id", "embedding")
    def content(ids: DataFrame): DataFrame =
      base.join(ids.select("vec_id"), Seq("vec_id"))
    // current content, not a cached listing (see rebalanceIfSkewed)
    spark.catalog.refreshTable(table)
    // both fits read the id-join result — one materialization, released
    // before the rewrite (which must re-read the live table itself)
    val cur = content(spark.table(table)).persist()
    val (coarse, bookRows) = try {
      val co = Clustering.fitCentroidsOn(
        cur.selectExpr("vec_id", Clustering.quantizeSql), Clustering.K)
      (co, fitPqCodebooksOn(cur, co))
    } finally { cur.unpersist(); () }
    val books = groupBooks(bookRows)
    val files = graft.operators.Dedup.rewriteBucketedTable(spark, table,
      "cluster_id")(df => encodePq(content(df), coarse, books))
    coarse.toDF("cid", "c").write.mode("overwrite").saveAsTable(coarseTable)
    bookRows.toDF("m", "cid", "c").write.mode("overwrite").saveAsTable(booksTable)
    files
  }

  /** Serve a persisted PQ index — [[pqSearch]] over the STORED codes. */
  def pqServe(spark: SparkSession, dir: String, table: String,
      coarseTable: String, booksTable: String, nprobe: Int = NProbe,
      refine: Int = PqRefine): DataFrame =
    pqSearch(spark, dir, Some(table),
      Clustering.loadCentroids(spark, coarseTable),
      loadPqBooks(spark, booksTable), strided(20), nprobe, refine)

  /** IVF-PQ over the code frame (cluster_id, vec_id, code) of a persisted
    * `index`, or of the corpus dir encoded inline ([[encodePq]]) when
    * there is none. Reconstruction is map-only (rec = c_list +
    * concat(codewords[code]), models as literals). Queries are the
    * `queryPred` rows of the dir — of those, only the index's members, so
    * forgotten vectors neither answer nor ask; they are BROADCAST to the
    * codes, which never shuffle. ADC is exact integer L2 to rec
    * (identical to per-slice lookup-table ADC, since rec is sliced from
    * the same codewords).
    */
  private def pqSearch(spark: SparkSession, dir: String, index: Option[String],
      coarse: Seq[(Int, Seq[Long])], books: Seq[Seq[(Int, Seq[Long])]],
      queryPred: Column, nprobe: Int, refine: Int, includeSelf: Boolean = false,
      querySet: Option[DataFrame] = None): DataFrame = {
    val codes = index.fold(encodePq(emb(spark, dir), coarse, books))(spark.table)
    val bookLits = books.map(Clustering.centroidExpr)
    val wordExprs = (0 until PqM)
      .map(m => s"element_at(${bookLits(m)}, code[$m] + 1).c")
    val rec = codes.withColumn("rec", expr(
      s"""zip_with(element_at(${Clustering.centroidExpr(coarse)}, cluster_id + 1).c,
         |  concat(${wordExprs.mkString(", ")}), (a, b) -> a + b)""".stripMargin))
    val qbase = semiOnVecId(
      emb(spark, dir).filter(queryPred).selectExpr("vec_id", Clustering.quantizeSql),
      querySet)
    val q = index.fold(qbase)(spark.table(_).select("vec_id")
        .join(broadcast(qbase), Seq("vec_id")))
      .select(col("vec_id").as("q_id"), col("q").as("q_q"))
    val lists = centroidLists(spark, coarse)
    val probed = probe(q, lists, nprobe)
    val scored = rec.join(broadcast(probed), onProbedList(rec, probed, lists, includeSelf))
      .withColumn("adc_dist", expr(sqL2("q_q", "rec")))
    refineExact(spark, dir, scored, q, refine)
  }

  /** Stage 5, PQ: ADC nominates a bounded top-`refine` pool per query,
    * then ONLY the pool rows' original (quantized) vectors are read back
    * from the base table and scored exactly (FAISS IndexRefine). At 100 TB
    * the ADC scan touches codes (bytes/vector) and full vectors are read
    * for just queries × refine rows; the pool and the queries broadcast,
    * so the corpus never shuffles.
    */
  private def refineExact(spark: SparkSession, dir: String,
      scored: DataFrame, q: DataFrame, refine: Int): DataFrame = {
    // TopK orders (score DESC, id ASC); each operand is a quantized
    // vector with coords of magnitude <= 2^21, so a per-dim difference is
    // <= 2^22 (two coords at opposite extremes), its square <= 2^44, and
    // the dim-64 sum <= 2^6 * 2^44 = 2^50 — three bits under the 2^53
    // double-exact ceiling, so -dist is a safe descending key. The bound
    // scales linearly with dim: every integer <= 2^53 is exactly
    // representable, so exactness holds through dim = 2^9 (sum <= 2^53)
    // and fails one doubling later; a larger dim or coarser quantization
    // bump must revisit this arithmetic.
    val pool = scored
      .groupBy("q_id")
      .agg(graft.functions.TopK.topk(refine)(col("vec_id"), -col("adc_dist").cast("double")).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))
    val exact = emb(spark, dir).selectExpr("vec_id", Clustering.quantizeSql)
      .join(broadcast(pool), col("vec_id") === col("neighbor_id"))
      .join(broadcast(q), "q_id")
      .withColumn("dist", expr(sqL2("q_q", "q")))
    rankTopK(exact, "neighbor_id", -col("dist").cast("double"),
      s => (-s).cast("long").as("dist"))
  }

  private[graft] val PqFgTable = "pq_fg_index"
  private[graft] val PqFgCoarse = "pq_fg_coarse"
  private[graft] val PqFgBooks = "pq_fg_books"

  /** `sim_pq_forget`: build the dedicated PQ index on the full corpus,
    * forget the deletion set, serve. Models stay trained on the ORIGINAL
    * corpus (forgetting deletes rows, it does not re-train — that is
    * [[retrainPq]]); the oracle replays the full-corpus fits and
    * excludes the forgotten vectors from lists and queries. Build +
    * forget run under the build-then-mutate staleness gate, so
    * steady-state calls pay only the search.
    */
  def pqForget(spark: SparkSession, dir: String): DataFrame = {
    graft.core.ModelTables.persistGroupMutatedIfStale(spark, dir,
      "pq-forget:v1")(
      PqFgCoarse -> (() => ()),
      PqFgBooks -> (() => ()),
      PqFgTable -> (() => buildPqIndexFor(spark, dir, PqFgTable, PqFgCoarse,
        PqFgBooks)))(
      () => { forgetPqVectors(spark, PqFgTable, forgetVecIds(spark, dir)); () })
    pqServe(spark, dir, PqFgTable, PqFgCoarse, PqFgBooks)
  }

  private[graft] val PqRtTable = "pq_rt_index"
  private[graft] val PqRtCoarse = "pq_rt_coarse"
  private[graft] val PqRtBooks = "pq_rt_books"

  /** `sim_pq_retrain`: the FULL PQ lifecycle — train + build on
    * two-thirds of the corpus, admit the remaining third under the
    * frozen stale codebooks ([[pqAdmit]] — the drift), delete the forget
    * set, RE-TRAIN ([[retrainPq]] — the repair), serve. Because the
    * re-train re-fits on current content, the served result must equal
    * an index built FRESH on exactly (corpus minus forget set) — the
    * oracle replays that fresh fit; no trace of the skewed history may
    * survive.
    */
  def pqRetrain(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir).select("vec_id", "embedding")
    graft.core.ModelTables.persistGroupMutatedIfStale(spark, dir,
      "pq-retrain:v1")(
      PqRtCoarse -> (() => ()),
      PqRtBooks -> (() => ()),
      PqRtTable -> (() => buildPqIndex(spark,
        all.filter(col("vec_id") % IvfRbIngestMod =!= 0),
        PqRtTable, PqRtCoarse, PqRtBooks)))(
      () => {
        pqAdmit(all.filter(col("vec_id") % IvfRbIngestMod === 0),
          PqRtTable, PqRtCoarse, PqRtBooks)
        forgetPqVectors(spark, PqRtTable, forgetVecIds(spark, dir))
        retrainPq(spark, dir, PqRtTable, PqRtCoarse, PqRtBooks)
        ()
      })
    pqServe(spark, dir, PqRtTable, PqRtCoarse, PqRtBooks)
  }

  /** Oracle generator for the PQ lifecycle rows: coarse + slice
    * codebooks are fit on the `fitPred` rows; the index holds (and
    * queries are drawn from) the `memberPred` rows. Replays the coarse
    * Lloyd, the residual slice fits, the member encode under those
    * models, the ADC search, and the exact re-rank — exact integer
    * arithmetic end-to-end, mirroring [[pqTopkOracle]] with the fit and
    * membership sets decoupled (forget shrinks membership, ingest admits
    * members the fit never saw, re-train collapses both to the same set).
    */
  private def pqLifecycleOracle(fitPred: String, memberPred: String): String =
    pqLifecycleOracleFrom(
      s"""qfit AS (SELECT vec_id, q FROM q WHERE $fitPred),
         |mem AS (SELECT vec_id, q FROM q WHERE $memberPred)""".stripMargin)

  /** The generator's general form: `prelude` supplies the CTEs `qfit`
    * (the fit content) and `mem` (the index membership), each (vec_id, q),
    * derived however the scenario needs — simple predicates
    * ([[pqLifecycleOracle]]) or a replayed commissioning model + doomed
    * lists ([[pqPolicyOracle]]). A `q` CTE with the full quantized corpus
    * is always in scope (the exact re-rank reads original vectors).
    */
  private def pqLifecycleOracleFrom(prelude: String,
      queryStride: Int = 20, includeSelf: Boolean = false): String = {
    val selfSql = if (includeSelf) "" else " AND r.vec_id <> p.q_id"
    // assignment of an arbitrary (vec_id, q) CTE against a centroid CTE
    def assignCte(src: String, c: String): String =
      Clustering.oracleAssignSql(src, c)
    val sliceFits = (0 until PqM).map { m =>
      s"""fs$m AS (SELECT vec_id, list_slice(r, ${m * PqSliceDim + 1}, ${(m + 1) * PqSliceDim}) AS q FROM resf),
         |${Clustering.lloydCtes(s"fs$m", s"b$m", PqSliceDim, PqKc)}""".stripMargin
    }.mkString(",\n")
    val memberCodes = (0 until PqM).map { m =>
      s"""ms$m AS (SELECT vec_id, list_slice(r, ${m * PqSliceDim + 1}, ${(m + 1) * PqSliceDim}) AS q FROM mres),
         |mc$m AS (${assignCte(s"ms$m", s"b${m}c3")})""".stripMargin
    }.mkString(",\n")
    val wordJoins = (0 until PqM).map(m =>
      s"JOIN mc$m ON mc$m.vec_id = mres.vec_id JOIN b${m}c3 w$m ON w$m.cid = mc$m.cluster_id")
      .mkString("\n  ")
    val wordConcat = (0 until PqM).map(m => s"w$m.c").reduce((a, b) => s"list_concat($a, $b)")
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${Clustering.Scale}) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |$prelude,
       |${Clustering.lloydCtes("qfit", "pc", 64, Clustering.K)},
       |resf AS (
       |  SELECT f.vec_id,
       |    list_transform(list_zip(f.q, c.c), x -> x[1] - x[2]) AS r
       |  FROM qfit f JOIN pca3 a ON a.vec_id = f.vec_id
       |  JOIN pcc3 c ON c.cid = a.cluster_id
       |),
       |$sliceFits,
       |ma AS (${assignCte("mem", "pcc3")}),
       |mres AS (
       |  SELECT m.vec_id, ma.cluster_id,
       |    list_transform(list_zip(m.q, c.c), x -> x[1] - x[2]) AS r
       |  FROM mem m JOIN ma ON ma.vec_id = m.vec_id
       |  JOIN pcc3 c ON c.cid = ma.cluster_id
       |),
       |$memberCodes,
       |rec AS (
       |  SELECT mres.vec_id, mres.cluster_id,
       |    list_transform(list_zip(cc.c, $wordConcat), x -> x[1] + x[2]) AS rec
       |  FROM mres
       |  JOIN pcc3 cc ON cc.cid = mres.cluster_id
       |  $wordJoins
       |),
       |qv AS (SELECT vec_id AS q_id, q AS q_q FROM mem WHERE vec_id % $queryStride = 0),
       |probe AS (
       |  SELECT q_id, q_q, cid FROM (
       |    SELECT qv.q_id, qv.q_q, c.cid,
       |      row_number() OVER (PARTITION BY qv.q_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(qv.q_q, c.c),
       |          x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT), c.cid) AS rn
       |    FROM qv CROSS JOIN pcc3 c
       |  ) WHERE rn <= $NProbe
       |),
       |scored AS (
       |  SELECT p.q_id, r.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(p.q_q, r.rec),
       |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS adc_dist
       |  FROM probe p JOIN rec r ON r.cluster_id = p.cid$selfSql
       |),
       |pool AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q_id, neighbor_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, neighbor_id) AS arn
       |    FROM scored
       |  ) WHERE arn <= $PqRefine
       |),
       |exactd AS (
       |  SELECT p.q_id, p.neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(qv.q_q, e.q),
       |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist
       |  FROM pool p JOIN qv ON qv.q_id = p.q_id JOIN q e ON e.vec_id = p.neighbor_id
       |)
       |SELECT q_id, rank, neighbor_id, dist FROM (
       |  SELECT q_id, neighbor_id, dist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dist, neighbor_id) AS rank
       |  FROM exactd
       |)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Skew-TRIGGERED PQ re-train — [[rebalanceIfSkewed]]'s sibling for the
    * compressed index: the PQ coarse lists are the same learned-kmeans
    * clusters, so the same K-row cluster_id histogram over the bucketed
    * code index is the drift symptom (hot coarse lists = hot ADC scans =
    * tail latency), with the same calibrated threshold
    * ([[IvfPolicySkewMax]] — identical fit, identical size distribution).
    * When it fires, [[retrainPq]] repairs BOTH quantizer levels: the
    * coarse re-fit rebalances the lists and the slice codebooks re-fit on
    * the new residual distribution — the codebook-drift repair the coarse
    * histogram is the observable proxy for. Steady state pays the K-row
    * histogram (+ a listing refresh); the full re-train is paid only on
    * real drift.
    */
  def retrainPqIfSkewed(spark: SparkSession, dir: String, table: String,
      coarseTable: String, booksTable: String,
      maxSkew: Double = IvfPolicySkewMax): (Double, Boolean) = {
    val skew = listSkew(spark, table)
    val run = skew > maxSkew
    if (run) { retrainPq(spark, dir, table, coarseTable, booksTable); () }
    (skew, run)
  }

  /** `stream_pq_policy` oracle: commissioning coarse fit on the build
    * two-thirds, full-corpus assignment, doomed-list selection
    * ([[IvfPolicyDoomedLists]] smallest), then a FRESH full PQ fit +
    * encode + search on the survivors — the bit-identity the final fired
    * re-train must restore for any schedule of mid-stream decisions.
    */
  val pqPolicyOracle: String = pqLifecycleOracleFrom(
    s"""qb AS (SELECT vec_id, q FROM q WHERE vec_id % $IvfRbIngestMod <> 0),
       |${Clustering.lloydCtes("qb", "ib", 64, Clustering.K)},
       |aall AS (${Clustering.oracleAssignSql("q", "ibc3")}),
       |sizes AS (SELECT cluster_id, count(*) AS n FROM aall GROUP BY cluster_id),
       |doomed AS (
       |  SELECT cluster_id FROM (
       |    SELECT cluster_id, row_number() OVER (ORDER BY n, cluster_id) AS rn
       |    FROM sizes
       |  ) WHERE rn <= $IvfPolicyDoomedLists
       |),
       |qs AS MATERIALIZED (
       |  SELECT q.vec_id, q.q FROM q JOIN aall a ON a.vec_id = q.vec_id
       |  WHERE a.cluster_id NOT IN (SELECT cluster_id FROM doomed)
       |),
       |qfit AS (SELECT vec_id, q FROM qs),
       |mem AS (SELECT vec_id, q FROM qs)""".stripMargin)

  private def pqSurvivePred: String =
    s"NOT (vec_id % $IvfForgetMod = $IvfForgetRem)"

  /** Models fit on the full corpus; forgotten vectors excluded from
    * lists and queries (forget deletes, it does not re-train).
    */
  val pqForgetOracle: String = pqLifecycleOracle("TRUE", pqSurvivePred)

  /** Fresh build on the survivors — the bit-identity the re-train must
    * restore regardless of the skewed admit/forget history.
    */
  val pqRetrainOracle: String = pqLifecycleOracle(pqSurvivePred, pqSurvivePred)

  /** Models fit on the build two-thirds; all vectors admitted as members
    * under those frozen codebooks (the stream-ingest gate's oracle).
    */
  val pqIngestOracle: String =
    pqLifecycleOracle(s"vec_id % $IvfRbIngestMod <> 0", "TRUE")

  // -------------------------------------------------------------------------
  // Multi-probe LSH top-k (the data-dependent recall path)
  // -------------------------------------------------------------------------

  /** Probe radius shipped as the entry's default (Hamming ≤ 2 of
    * [[NumPlanes]] sign bits → 22 of 64 buckets).
    */
  val ProbeRadius = 2

  /** Multi-probe LSH ANN (Lv et al., VLDB'07, distilled): coarse lists
    * are the deterministic hyperplane-sign buckets ([[sketched]] — the
    * same sketch the near-dup family uses), and each query brute-forces
    * every bucket within Hamming distance `h` of its own. This is the
    * recall path [[ivfTopk]] cannot provide when the list column carries
    * no cosine signal (the fixture's `label` is measured
    * cosine-uncorrelated: label-probing recall ≈ the scanned corpus
    * fraction, i.e. random sampling; the Hamming ball beats that fraction
    * — pinned by OperatorsSpec, with radius-6 recall exactly 1.0).
    *
    * Scale shape: each query expands to its ≤ C(planes,≤h) probe buckets
    * (a bounded literal-mask explode, map-only), then ONE equi-join on
    * bucket against the corpus — over a bucket-partitioned corpus only
    * queries move; the bounded top-k aggregate keeps ≤ k rows per query
    * ahead of the final shuffle.
    */
  def multiprobeTopk(spark: SparkSession, dir: String): DataFrame =
    multiprobeTopkRadius(spark, dir, ProbeRadius)

  /** [[multiprobeTopk]] with an explicit Hamming probe radius. The query
    * set is 5% OF THE CORPUS (`vec_id % 20 = 0`), so total probe volume
    * grows quadratically under corpus scaling by construction; per-query
    * cost scales with the probed bucket size, linear in the corpus — at a
    * 20x corpus the raw gate measured 5.8x and a fixed query set 1.6x
    * steady (SCALE.md row "LSH near-dup / multi-probe").
    */
  def multiprobeTopkRadius(spark: SparkSession, dir: String, h: Int): DataFrame = {
    val s = sketched(spark, dir)
    val masks = (0 until (1 << NumPlanes)).filter(m => Integer.bitCount(m) <= h)
    val q = s.filter(strided(20))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
      .withColumn("mask", explode(typedLit(masks)))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("q_bucket").bitwiseXOR(col("mask")).as("p_bucket"))
    // each corpus vector matches exactly one mask per query (the XOR is a
    // bijection), so the candidate stream needs no dedup
    cosineTopK(q, s, s("bucket") === q("p_bucket") && s("vec_id") =!= q("q_id"))
  }

  /** The IVF probe-search CTE chain, parameterized the same way
    * [[ivfLabelSearch]] is (query stride, self-match policy) plus a CTE
    * name prefix so the chain can be composed next to CTE sets that
    * already define `q`/`e` (the hybrid oracle composes it with the BM25
    * score chain).
    */
  private def ivfChainFor(stride: Int, includeSelf: Boolean,
      p: String, eWhere: String = "TRUE",
      excludeOwnLabel: Boolean = false): String = {
    val selfGuard = if (includeSelf) "" else " AND e.vec_id <> pr.q_id"
    // probe-side label exclusion (the hard-negative oracle): filtered
    // BEFORE the probe ranking, exactly like the implementation
    val probeWhere = if (excludeOwnLabel) "WHERE p.p_label <> q.q_label " else ""
    val qLabel = if (excludeOwnLabel) ", label AS q_label" else ""
    // the corpus CTE takes the predicate (the forget oracle filters it);
    // the QUERY set always derives from the unfiltered table — queries
    // come from the caller's dir, not the index
    s"""${p}eall AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |),
       |${p}e AS (SELECT * FROM ${p}eall WHERE $eWhere),
       |${p}pivots AS (
       |  SELECT e.label AS p_label, e.embedding AS p_emb, e.nrm AS p_nrm
       |  FROM ${p}e e JOIN (SELECT label, min(vec_id) AS vec_id FROM ${p}e GROUP BY label) m
       |    ON e.label = m.label AND e.vec_id = m.vec_id
       |),
       |${p}q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm$qLabel
       |  FROM ${p}eall WHERE vec_id % $stride = 0
       |),
       |${p}probed AS (
       |  SELECT q_id, q_emb, q_nrm, p_label FROM (
       |    SELECT q.q_id, q.q_emb, q.q_nrm, p.p_label,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${duckDot("q.q_emb", "p.p_emb")} / (q.q_nrm * p.p_nrm) DESC, p.p_label) AS p_rank
       |    FROM ${p}q q CROSS JOIN ${p}pivots p $probeWhere
       |  ) WHERE p_rank <= $NProbe
       |),
       |${p}ivf_ranked AS (
       |  SELECT q_id, rank, neighbor_id, cosine FROM (
       |    SELECT pr.q_id, e.vec_id AS neighbor_id,
       |      ${duckDot("e.embedding", "pr.q_emb")} / (e.nrm * pr.q_nrm) AS cosine,
       |      row_number() OVER (PARTITION BY pr.q_id
       |        ORDER BY ${duckDot("e.embedding", "pr.q_emb")} / (e.nrm * pr.q_nrm) DESC, e.vec_id) AS rank
       |    FROM ${p}probed pr JOIN ${p}e e ON e.label = pr.p_label$selfGuard
       |  )
       |  WHERE rank <= $TopK
       |)""".stripMargin
  }

  private val ivfChainCtes: String =
    ivfChainFor(stride = 20, includeSelf = false, p = "")

  val ivfTopkOracle: String =
    s"""WITH $ivfChainCtes
       |SELECT q_id, rank, neighbor_id, cosine FROM ivf_ranked
       |ORDER BY q_id, rank""".stripMargin

  /** HARD-NEGATIVE MINING for contrastive training: per query vector,
    * the top-k most-similar vectors with a DIFFERENT label — the
    * highest-loss negatives a triplet/InfoNCE batch builder wants —
    * served from the persisted IVF index. The probe step simply excludes
    * the query's own label before ranking pivot lists, so the nprobe
    * scored lists are the nearest FOREIGN lists and the corpus never
    * reshuffles (same plan discipline as [[ivfTopkAgainst]]). Labels
    * double as the coarse partition here; with learned centroids the
    * exclusion becomes a post-probe label filter, same shape.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    persistIvfIndexIfStale(spark, dir)
    ivfLabelSearch(spark, dir, spark.table(IvfIndexTable), NProbe,
      strided(20), includeSelf = true, excludeOwnLabel = true)
  }

  val hardNegativesOracle: String =
    s"""WITH ${ivfChainFor(stride = 20, includeSelf = true, p = "",
           excludeOwnLabel = true)}
       |SELECT q_id, rank, neighbor_id, cosine FROM ivf_ranked
       |ORDER BY q_id, rank""".stripMargin

  /** The IVF forget equality: the identical probe search replayed over
    * the corpus MINUS the forgotten vectors — including the pivot shift
    * (a forgotten min-vec_id member hands its label's pivot to the next
    * survivor, which the implementation reproduces because pivots derive
    * from the rewritten index).
    */
  val ivfForgetOracle: String =
    s"""WITH ${ivfChainFor(stride = 20, includeSelf = false, p = "",
           eWhere = s"vec_id % $IvfForgetMod <> $IvfForgetRem")}
       |SELECT q_id, rank, neighbor_id, cosine FROM ivf_ranked
       |ORDER BY q_id, rank""".stripMargin

  /** DuckDB rendering of [[sketched]] — defined once and composed into both
    * bucket-join oracles so the sketch semantics cannot drift between them.
    */
  private val duckSketchCte: String = {
    val pc = duckPlaneComponent("p", "d")
    s"""e AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${duckDot("embedding", "embedding")}) AS nrm,
       |    CAST(list_sum(list_transform(range(0, $NumPlanes), p ->
       |      CASE WHEN list_sum(list_transform(range(0, len(embedding)), d ->
       |          CAST(embedding[d + 1] AS DOUBLE) * $pc)) > 0
       |        THEN (1 << p) ELSE 0 END)) AS INT) AS bucket
       |  FROM embeddings
       |)""".stripMargin
  }

  val lshNearDupOracle: String =
    s"""WITH $duckSketchCte
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
       |  ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  /** Oracle for [[multiprobeTopk]] — lives below [[duckSketchCte]] (val
    * initialization order).
    */
  private val multiprobeChainCtes: String =
    s"""$duckSketchCte,
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, bucket AS q_bucket
       |  FROM e WHERE vec_id % 20 = 0
       |),
       |masks AS (
       |  SELECT CAST(unnest(list_filter(range(0, ${1 << NumPlanes}),
       |    m -> list_sum(list_transform(range(0, $NumPlanes), i -> (m >> i) & 1)) <= $ProbeRadius)) AS INT) AS mask
       |),
       |mp_ranked AS (
       |  SELECT q_id, rank, neighbor_id, cosine FROM (
       |    SELECT q.q_id, e.vec_id AS neighbor_id,
       |      ${duckDot("e.embedding", "q.q_emb")} / (e.nrm * q.q_nrm) AS cosine,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${duckDot("e.embedding", "q.q_emb")} / (e.nrm * q.q_nrm) DESC, e.vec_id) AS rank
       |    FROM q CROSS JOIN masks
       |    JOIN e ON e.bucket = xor(q.q_bucket, masks.mask) AND e.vec_id <> q.q_id
       |  )
       |  WHERE rank <= $TopK
       |)""".stripMargin

  val multiprobeTopkOracle: String =
    s"""WITH $multiprobeChainCtes
       |SELECT q_id, rank, neighbor_id, cosine FROM mp_ranked
       |ORDER BY q_id, rank""".stripMargin

  // -------------------------------------------------------------------------
  // Semantic dedup over embeddings (SemDeDup-style keep/drop verdicts)
  // -------------------------------------------------------------------------

  /** Same-bucket pairs at or above this cosine are semantic duplicates. */
  val SemDupSim = 0.35

  /** SEMANTIC DEDUP — the embedding-space dedup stage (SemDeDup, Abbas et
    * al. 2023, distilled to its data-parallel core): a vector is DROPPED
    * when some lower-id vector in its LSH bucket sits within cosine >=
    * [[SemDupSim]]; the verdict row carries the strongest such match as
    * the audit trail. Unlike [[lshNearDup]] (the pair relation), this is
    * the per-document keep/drop decision a curation pipeline consumes —
    * the embedding analogue of the text-side `dedup_incremental` verdict.
    *
    * Scale: the sketch is map-only; the candidate join touches only
    * same-bucket pairs (corpus²/2^planes); the best-match window keys by
    * the dropped vector id, so state per key is that vector's own bucket
    * matches — no global sort, no driver data.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = sketched(spark, dir)
    val pairs = s.as("a").join(s.as("b"), Seq("bucket"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= SemDupSim)
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("cand_id"), col("cosine"))
    val best = pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cand_id"), col("cosine"))
    emb(spark, dir).select("vec_id").join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cand_id").isNull.as("keep"),
        coalesce(col("cand_id"), lit(-1L)).as("match_id"),
        coalesce(col("cosine"), lit(0.0)).as("match_cos"))
      .orderBy("vec_id")
  }

  val semanticDedupOracle: String =
    s"""WITH $duckSketchCte,
       |pairs AS (
       |  SELECT b.vec_id AS vec_id, a.vec_id AS cand_id,
       |    ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $SemDupSim
       |),
       |best AS (
       |  SELECT vec_id, cand_id, cosine FROM (
       |    SELECT vec_id, cand_id, cosine,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cand_id) AS rn
       |    FROM pairs
       |  ) WHERE rn = 1
       |)
       |SELECT v.vec_id, best.cand_id IS NULL AS keep,
       |  coalesce(best.cand_id, CAST(-1 AS BIGINT)) AS match_id,
       |  coalesce(best.cosine, CAST(0.0 AS DOUBLE)) AS match_cos
       |FROM embeddings v LEFT JOIN best ON v.vec_id = best.vec_id
       |ORDER BY v.vec_id""".stripMargin

  // -------------------------------------------------------------------------
  // Semantic decontamination (embedding-space eval-set overlap)
  // -------------------------------------------------------------------------

  /** Every [[SemDecontMod]]-th vector models the held-out benchmark/eval
    * set (the text-side decontamination family's `% 50` convention).
    */
  val SemDecontMod = 50

  /** SEMANTIC DECONTAMINATION — the embedding-space leg of benchmark
    * decontamination: a training vector is flagged when some EVAL-set
    * vector sits within cosine >= [[SemDupSim]] in its LSH bucket. The
    * n-gram legs (`pipe_contamination*`) catch verbatim and lightly-edited
    * leakage; this catches the paraphrased contamination that shares no
    * surface n-grams at all — the published gap the fuzzy leg still
    * misses. Output is the per-train-vector verdict with the strongest
    * eval match as the audit trail, the same row shape as
    * [[semanticDedup]].
    *
    * Scale: the eval side is benchmark-sized (10^4..10^6 vectors), so it
    * BROADCASTS — the corpus never shuffles; candidate pairs ride the
    * sketch-bucket equi-join exactly like [[semanticDedup]]. The
    * best-match selection is a max-of-struct AGGREGATE, not a row_number
    * window: the partial aggregate collapses to one row per train vector
    * per task BEFORE the exchange (struct max plans as SortAggregate —
    * the sort is partition-local pre-agg, not a post-shuffle sort of all
    * candidate pairs, which is what the window form would pay).
    */
  def contaminationSemantic(spark: SparkSession, dir: String): DataFrame = {
    val s = sketched(spark, dir)
    val bench = s.filter(col("vec_id") % SemDecontMod === 0)
      .select(col("bucket"), col("vec_id").as("bench_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val train = s.filter(col("vec_id") % SemDecontMod =!= 0)
    val best = train.join(broadcast(bench), Seq("bucket"))
      .withColumn("cosine",
        dot(col("embedding"), col("b_emb")) / (col("nrm") * col("b_nrm")))
      .filter(col("cosine") >= SemDupSim)
      // max of (cosine, -bench_id): strongest match, smallest eval id on
      // exact-double ties — the same pick as the oracle's ordered window
      .groupBy("vec_id")
      .agg(max(struct(col("cosine").as("c"), (-col("bench_id")).as("nid"))).as("m"))
      .select(col("vec_id"), (-col("m.nid")).as("bench_id"), col("m.c").as("cosine"))
    emb(spark, dir).select("vec_id").filter(col("vec_id") % SemDecontMod =!= 0)
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bench_id").isNull.as("keep"),
        coalesce(col("bench_id"), lit(-1L)).as("match_id"),
        coalesce(col("cosine"), lit(0.0)).as("match_cos"))
      .orderBy("vec_id")
  }

  val contaminationSemanticOracle: String =
    s"""WITH $duckSketchCte,
       |bench AS (
       |  SELECT bucket, vec_id AS bench_id, embedding AS b_emb, nrm AS b_nrm
       |  FROM e WHERE vec_id % $SemDecontMod = 0
       |),
       |hits AS (
       |  SELECT t.vec_id, b.bench_id,
       |    ${duckDot("t.embedding", "b.b_emb")} / (t.nrm * b.b_nrm) AS cosine
       |  FROM e t JOIN bench b USING (bucket)
       |  WHERE t.vec_id % $SemDecontMod <> 0
       |    AND ${duckDot("t.embedding", "b.b_emb")} / (t.nrm * b.b_nrm) >= $SemDupSim
       |),
       |best AS (
       |  SELECT vec_id, bench_id, cosine FROM (
       |    SELECT vec_id, bench_id, cosine,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, bench_id) AS rn
       |    FROM hits
       |  ) WHERE rn = 1
       |)
       |SELECT v.vec_id, best.bench_id IS NULL AS keep,
       |  coalesce(best.bench_id, CAST(-1 AS BIGINT)) AS match_id,
       |  coalesce(best.cosine, CAST(0.0 AS DOUBLE)) AS match_cos
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % $SemDecontMod <> 0) v
       |LEFT JOIN best ON v.vec_id = best.vec_id
       |ORDER BY v.vec_id""".stripMargin

  // -------------------------------------------------------------------------
  // Hybrid retrieval: reciprocal-rank fusion of lexical + semantic top-k
  // -------------------------------------------------------------------------

  /** RRF smoothing constant (the standard k=60 from Cormack et al.). */
  val RrfK = 60

  /** HYBRID SEARCH — the modern retrieval default: fuse the BM25 lexical
    * ranking with the embedding-cosine ranking by reciprocal-rank fusion,
    * rrf(d) = sum over sources of 1 / (k + rank_source(d)). Documents and
    * embeddings share an id space in the testdata, so every
    * [[graft.operators.TextAnalysis.Bm25QueryStride]]-th id queries BOTH
    * sides; a doc missing from one side's top-k contributes only the
    * other's term (coalesce to 0 in ONE fixed expression, so the
    * two-term double sum is evaluation-order-free and hash-exact).
    *
    * Scale shape: each side is its own already-audited plan (BM25
    * broadcast-probe + bounded TopK; cosine brute-force with broadcast
    * query side + bounded TopK); fusion joins two O(queries x k) rank
    * tables — metadata-scale — full-outer on (query, doc), then one more
    * bounded TopK. No window sort anywhere.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") % TextAnalysis.Bm25QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val sem = e.crossJoin(broadcast(q)) // self included: BM25 ranks self too
      .withColumn("cosine", dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
      .groupBy("query_id")
      .agg(graft.functions.TopK.topk(TopK)(col("vec_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk_sem"))
    rrfFuse(bm25Leg(spark, dir), sem)
  }

  /** HYBRID SEARCH ON THE INDEX — the same RRF fusion with its semantic
    * leg served from the persisted bucketed IVF index
    * ([[persistIvfIndexIfStale]] + [[ivfLabelSearch]]) instead of the
    * brute-force corpus scan. This is the 100x-scale form: the exact leg
    * scans corpus x queries every time, while here the corpus is read in
    * place (bucketed by list, probe join co-located) and only the probed
    * lists are scored. [[evalHybrid]] publishes what the swap costs in
    * recall against the exact fusion.
    */
  def hybridRrfIvf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfIvfProbe(spark, dir, NProbe)

  /** [[hybridRrfIvf]] with an explicit probe width — the recall knob the
    * report sweeps.
    */
  def hybridRrfIvfProbe(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    persistIvfIndexIfStale(spark, dir)
    val sem = ivfLabelSearch(spark, dir, spark.table(IvfIndexTable), nprobe,
      strided(TextAnalysis.Bm25QueryStride),
      includeSelf = true) // BM25 ranks self too — keep parity with hybridRrf
    rrfFuse(bm25Leg(spark, dir), semLeg(sem))
  }

  private[graft] val PqHyTable = "pq_hy_index"
  private[graft] val PqHyCoarse = "pq_hy_coarse"
  private[graft] val PqHyBooks = "pq_hy_books"

  private[graft] def persistPqHybridIfStale(spark: SparkSession,
      dir: String): Unit = {
    val all = emb(spark, dir).select("vec_id", "embedding")
    graft.core.ModelTables.persistGroupIfStale(spark, dir, "pq-hybrid:v1")(
      PqHyCoarse -> (() => ()),
      PqHyBooks -> (() => ()),
      PqHyTable -> (() => buildPqIndex(spark, all, PqHyTable, PqHyCoarse,
        PqHyBooks)))
  }

  /** HYBRID SEARCH ON THE COMPRESSED INDEX — [[hybridRrfIvf]] with its
    * semantic leg served from the persisted IVF-PQ index instead of
    * IVF-Flat: the RAM-bounded serving shape at 10⁹ vectors, where the
    * flat index's full vectors no longer fit and the code index (1+PqM
    * small ints per vector) answers the probe with ADC + an exact
    * re-rank over only the [[PqRefine]]-bounded pool. Same query set and
    * self-inclusion as the other hybrid forms (BM25 ranks self too), so
    * the three fusion variants differ ONLY in the semantic leg's index —
    * the swap a deployment makes as the corpus outgrows RAM tiers.
    * Models + index build once behind the staleness gate; steady-state
    * calls pay the two index-served legs and the metadata-scale fusion.
    */
  def hybridRrfPq(spark: SparkSession, dir: String): DataFrame = {
    val lexical = bm25Leg(spark, dir)
    persistPqHybridIfStale(spark, dir)
    rrfFuse(lexical, semLeg(pqSearch(spark, dir, Some(PqHyTable),
      Clustering.loadCentroids(spark, PqHyCoarse),
      loadPqBooks(spark, PqHyBooks),
      strided(graft.operators.TextAnalysis.Bm25QueryStride), NProbe, PqRefine,
      includeSelf = true)))
  }

  /** [[hybridServeBatch]] with the semantic leg on the COMPRESSED index:
    * one arriving batch of hybrid queries answered from the persisted
    * BM25 postings + the PQ code index. Both leg restrictions are
    * broadcast semi-joins — a corpus-derived query stream never
    * materializes driver-side. Per-query stateless + frozen models, so
    * the union of batch emissions equals the batch [[hybridRrfPq]] table
    * for any chunking of the query set. The models are GIVEN: the K-row
    * coarse centroids + codebooks load once at stream start (the
    * frozen-model inference discipline TokenBudgetStream uses for its
    * budget map), not per micro-batch; with them in hand, per-batch plan
    * construction reads zero rows (ServeSetSpec meters it).
    */
  private[graft] def hybridServePqBatchWith(spark: SparkSession, dir: String,
      querySet: DataFrame, coarse: Seq[(Int, Seq[Long])],
      books: Seq[Seq[(Int, Seq[Long])]],
      table: String = PqHyTable): DataFrame = {
    val sem = pqSearch(spark, dir, Some(table), coarse, books,
      strided(TextAnalysis.Bm25QueryStride), NProbe, PqRefine,
      includeSelf = true, querySet = Some(querySet))
    rrfFuse(lexLegFor(spark, dir, querySet), semLeg(sem))
  }

  /** Continuous hybrid serving from the compressed index — the PQ twin
    * of [[hybridServeStream]]. The caller persists the BM25 index and
    * the PQ-hybrid group BEFORE starting the stream; the codebooks load
    * ONCE here (K-row model traffic) and are frozen for the stream's
    * lifetime — a model refresh is a stream restart, exactly like every
    * frozen-model scoring loop in the repo.
    */
  def hybridServePqStream(newQueries: DataFrame, dir: String)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val coarse = Clustering.loadCentroids(newQueries.sparkSession, PqHyCoarse)
    val books = loadPqBooks(newQueries.sparkSession, PqHyBooks)
    serveEachBatch(newQueries, dir) { b =>
      sink(hybridServePqBatchWith(b.sparkSession, dir, b.select("vec_id"),
        coarse, books))
    }
  }

  // -------------------------------------------------------------------------
  // Generation-aware serving: the stream picks up a re-train without restart
  // -------------------------------------------------------------------------

  private[graft] val PqSr0Table = "pq_sr0_index"
  private[graft] val PqSr0Coarse = "pq_sr0_coarse"
  private[graft] val PqSr0Books = "pq_sr0_books"
  private[graft] val PqSr1Table = "pq_sr1_index"
  private[graft] val PqSr1Coarse = "pq_sr1_coarse"
  private[graft] val PqSr1Books = "pq_sr1_books"

  /** The serve-refresh gate's two model GENERATIONS, persisted once per
    * corpus snapshot: generation 0 is the drift state (fit on two-thirds,
    * the last third admitted under those frozen codebooks — the
    * [[pqRetrain]] pre-state), generation 1 is the re-train's OUTPUT.
    * [[retrainPq]] is pinned bit-identical to a fresh build on current
    * content (`sim_pq_retrain`), so generation 1 is materialized as that
    * fresh build directly and the gate replays the OPERATIONAL sequence —
    * the pointer flip a fired re-train publishes — at serving cost.
    */
  private[graft] def persistPqServeGens(spark: SparkSession, dir: String): Unit = {
    val all = emb(spark, dir).select("vec_id", "embedding")
    graft.core.ModelTables.persistGroupIfStale(spark, dir, "pq-serve-gen:v1")(
      PqSr0Coarse -> (() => ()),
      PqSr0Books -> (() => ()),
      PqSr0Table -> (() => {
        buildPqIndex(spark, all.filter(col("vec_id") % IvfRbIngestMod =!= 0),
          PqSr0Table, PqSr0Coarse, PqSr0Books)
        pqAdmit(all.filter(col("vec_id") % IvfRbIngestMod === 0),
          PqSr0Table, PqSr0Coarse, PqSr0Books)
      }),
      PqSr1Coarse -> (() => ()),
      PqSr1Books -> (() => ()),
      PqSr1Table -> (() => buildPqIndexFor(spark, dir, PqSr1Table,
        PqSr1Coarse, PqSr1Books)))
  }

  /** The serving tier's MODEL-GENERATION POINTER — a
    * [[graft.core.Generations]] marker dir, like the BM25 table
    * generations: a fired re-train publishes its marker, and the serving
    * stream re-resolves the pointer at every micro-batch boundary
    * (one listing + two K-row model loads — cheap enough to pay per
    * batch) instead of freezing models at stream start. A re-train no
    * longer strands a running serve stream.
    */
  private def srGens(spark: SparkSession): graft.core.Generations = {
    val d = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "pq_sr.GEN")
    graft.core.Generations(d.getFileSystem(spark.sparkContext.hadoopConfiguration), d, "g=")
  }

  def pqServeGenCurrent(spark: SparkSession): Long = srGens(spark).current

  def pqServeGenPublish(spark: SparkSession, g: Long): Unit = srGens(spark).mark(g)

  private[graft] def pqServeGenReset(spark: SparkSession): Unit = {
    val gs = srGens(spark)
    gs.fs.delete(gs.root, true)
    gs.mark(0L)
  }

  private[graft] def srTables(g: Long): (String, String, String) =
    // r20 ADVICE: only two serving-table slots exist; a third published
    // generation must fail loudly here instead of silently serving the
    // generation-1 models under a newer pointer. A general N-generation
    // deployment derives table names from g (the TextAnalysis.genTables
    // pattern); these two slots are the drift/re-train pair the refresh
    // gate exercises.
    if (g == 0L) (PqSr0Table, PqSr0Coarse, PqSr0Books)
    else if (g == 1L) (PqSr1Table, PqSr1Coarse, PqSr1Books)
    else sys.error(s"pq serving generation $g has no bound table slot " +
      "(only g=0 and g=1 are published; publish tables for g before the pointer)")

  /** [[hybridServePqStream]] with GENERATION-AWARE models: instead of
    * freezing coarse + codebooks at stream start, every micro-batch
    * re-resolves the published model generation and serves under it —
    * emission is piecewise equal to the batch fusion under whichever
    * generation each batch resolved. The per-batch overhead is bounded
    * model traffic (marker listing, K-row coarse, PqM x PqKc codebooks);
    * the serving plan itself is unchanged.
    */
  def hybridServePqStreamRefreshing(newQueries: DataFrame, dir: String)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    // the query frame is generation-INdependent (only the models/tables
    // re-resolve per batch), so the one-per-stream pin applies here too
    serveEachBatch(newQueries, dir) { batch =>
      val s = batch.sparkSession
      val (t, c, b) = srTables(pqServeGenCurrent(s))
      sink(hybridServePqBatchWith(s, dir, batch.select("vec_id"),
        Clustering.loadCentroids(s, c), loadPqBooks(s, b), table = t))
    }
  }

  /** Oracle for `stream_hybrid_serve_refresh`: the lexical leg is
    * generation-independent; the semantic leg is PIECEWISE — chunk-0
    * queries replay the PQ lifecycle under the DRIFT fit (two-thirds,
    * members all: the pre-retrain generation), later chunks under the
    * re-trained fit (all). The chunk arithmetic mirrors the staged
    * split exactly ([[graft.streaming.StreamingQueries.chunkIdSql]]).
    */
  val hybridServeRefreshOracle: String = {
    val stride = graft.operators.TextAnalysis.Bm25QueryStride
    def semSql(fitWhere: String): String = pqLifecycleOracleFrom(
      s"""qfit AS (SELECT vec_id, q FROM q WHERE $fitWhere),
         |mem AS (SELECT vec_id, q FROM q)""".stripMargin,
      queryStride = stride, includeSelf = true)
    s"""WITH ${graft.operators.TextAnalysis.bm25ScoreCtes(stride)},
       |lex AS (
       |  SELECT query_id, doc_id, rk AS rk_lex FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rk
       |    FROM score
       |  ) WHERE rk <= $TopK
       |),
       |qbounds AS (
       |  SELECT min(vec_id) AS t0, max(vec_id) - min(vec_id) + 1 AS span
       |  FROM embeddings WHERE vec_id % $stride = 0
       |),
       |semold AS (
       |  SELECT q_id AS query_id, neighbor_id AS doc_id, rank AS rk_sem
       |  FROM (
       |${semSql(s"vec_id % $IvfRbIngestMod <> 0")}
       |  )
       |),
       |semnew AS (
       |  SELECT q_id AS query_id, neighbor_id AS doc_id, rank AS rk_sem
       |  FROM (
       |${semSql("TRUE")}
       |  )
       |),
       |sem AS (
       |  SELECT s.query_id, s.doc_id, s.rk_sem FROM semold s, qbounds b
       |  WHERE CAST((s.query_id - b.t0) * 3 // b.span AS INT) = 0
       |  UNION ALL
       |  SELECT s.query_id, s.doc_id, s.rk_sem FROM semnew s, qbounds b
       |  WHERE CAST((s.query_id - b.t0) * 3 // b.span AS INT) >= 1
       |),
       |fused AS (
       |  SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
       |    coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    coalesce(1.0 / CAST($RrfK + rk_lex AS DOUBLE), 0.0) +
       |      coalesce(1.0 / CAST($RrfK + rk_sem AS DOUBLE), 0.0) AS rrf
       |  FROM lex FULL JOIN sem
       |    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
       |)
       |SELECT query_id, rk, doc_id, rrf FROM (
       |  SELECT query_id, doc_id, rrf, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS rk
       |  FROM fused
       |)
       |WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Oracle for [[hybridRrfPq]]: the BM25 score chain plus the FULL PQ
    * lifecycle replay (fit = membership = the whole corpus, query stride
    * = the BM25 stride, self kept) fused by the same two-term coalesce.
    * The PQ chain rides as a NESTED WITH inside the `sem` derived table —
    * its `q` CTE (the quantized corpus) shadows the BM25 chain's `q`
    * (the query term table) instead of colliding with it.
    */
  val hybridRrfPqOracle: String = {
    val stride = graft.operators.TextAnalysis.Bm25QueryStride
    val pqSql = pqLifecycleOracleFrom(
      """qfit AS (SELECT vec_id, q FROM q),
        |mem AS (SELECT vec_id, q FROM q)""".stripMargin,
      queryStride = stride, includeSelf = true)
    s"""WITH ${graft.operators.TextAnalysis.bm25ScoreCtes(stride)},
       |lex AS (
       |  SELECT query_id, doc_id, rk AS rk_lex FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rk
       |    FROM score
       |  ) WHERE rk <= $TopK
       |),
       |sem AS (
       |  SELECT q_id AS query_id, neighbor_id AS doc_id, rank AS rk_sem
       |  FROM (
       |$pqSql
       |  )
       |),
       |fused AS (
       |  SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
       |    coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    coalesce(1.0 / CAST($RrfK + rk_lex AS DOUBLE), 0.0) +
       |      coalesce(1.0 / CAST($RrfK + rk_sem AS DOUBLE), 0.0) AS rrf
       |  FROM lex FULL JOIN sem
       |    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
       |)
       |SELECT query_id, rk, doc_id, rrf FROM (
       |  SELECT query_id, doc_id, rrf, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS rk
       |  FROM fused
       |)
       |WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Serve ONE arriving batch of hybrid queries entirely from the
    * PERSISTED indexes — lexical leg from the bucketed BM25 postings
    * ([[graft.operators.TextAnalysis.bm25SearchAgainst]], identical rows
    * to the inline ranking by the `txt_bm25_indexed` gate), semantic leg
    * from the bucketed IVF index restricted to the batch's query ids.
    * Per-query stateless and both models frozen, so the union of batch
    * emissions equals the batch [[hybridRrfIvf]] table for any chunking
    * of the query set — the serving shape of a deployed retrieval tier:
    * queries arrive continuously, the indexes only change through the
    * separate ingest/compaction path.
    */
  private[graft] def hybridServeBatch(spark: SparkSession, dir: String,
      querySet: DataFrame): DataFrame = {
    val sem = ivfLabelSearch(spark, dir, spark.table(IvfIndexTable), NProbe,
      strided(TextAnalysis.Bm25QueryStride), includeSelf = true,
      querySet = Some(querySet))
    rrfFuse(lexLegFor(spark, dir, querySet), semLeg(sem))
  }

  /** Continuous hybrid serving: each micro-batch of arriving query ids
    * is answered from the frozen persisted indexes ([[hybridServeBatch]]).
    * The batch flows in as a DATAFRAME — ids never collect to the driver
    * (corpus-derived query streams would otherwise materialize
    * driver-side). The caller persists the two indexes BEFORE starting
    * the stream — the frozen-model inference discipline shared with
    * [[graft.operators.TextAnalysis.perplexityStream]].
    */
  def hybridServeStream(newQueries: DataFrame, dir: String)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    serveEachBatch(newQueries, dir)(b =>
      sink(hybridServeBatch(b.sparkSession, dir, b.select("vec_id"))))

  /** A serve stream's [[eachBatch]] loop with the standard lexical query
    * frame persisted ONCE at stream start: it is corpus-derived but FROZEN
    * for the stream's lifetime (the same frozen-input discipline as the
    * model loads), and each micro-batch's lexical leg re-derives the
    * identical subtree — without the pin every
    * batch re-runs the strided corpus tokenize+explode; with it the
    * session-shared CacheManager substitutes the one materialization into
    * every batch's plan (cloned foreachBatch sessions share the cache at
    * the SharedState level). Query-set-scale (corpus/stride × ≤8 terms),
    * never corpus-scale. [[unpinOnTermination]] releases the pin, so it
    * lives exactly as long as its stream. Concurrent serve streams over one
    * dir share the cache entry: the first to stop releases it, and the
    * others recompute the frame per batch (same rows, the unpinned cost).
    */
  private def serveEachBatch(newQueries: DataFrame, dir: String)(
      f: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val pin = TextAnalysis.bm25QueriesOf(
      TextAnalysis.bm25Corpus(newQueries.sparkSession, dir)).persist()
    unpinOnTermination(pin, eachBatch(newQueries)(f))
  }

  /** Unpersist `pin` when `q` terminates (stop or failure): a listener
    * matching q's id releases it and removes itself. A query that ended
    * before the listener registered fires no event, so that case releases
    * here.
    */
  private def unpinOnTermination(pin: DataFrame,
      q: org.apache.spark.sql.streaming.StreamingQuery): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val streams = q.sparkSession.streams
    val release = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == q.id) { pin.unpersist(); streams.removeListener(this) }
    }
    streams.addListener(release)
    if (!q.isActive) { pin.unpersist(); streams.removeListener(release) }
    q
  }

  /** The lexical leg both hybrid forms share: the BM25 top-k ranking. */
  private def bm25Leg(spark: SparkSession, dir: String): DataFrame =
    // Serve the lexical leg from the persisted inverted index instead of
    // the inline corpus scan: bm25Indexed is bit-identical to bm25Topk
    // (they share the driver oracle), and the index-served form replaces
    // the full tokenize + (doc, token) shuffle with a bucket-pruned
    // postings read — the 100 TB shape the hybrid gates already use. The
    // index builds once per (dir, fingerprint) behind the staleness gate,
    // exactly like the IVF/PQ legs these fusions already ride.
    graft.operators.TextAnalysis.bm25Indexed(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rk").as("rk_lex"))

  /** The lexical leg for one arriving query batch, through the mass-query
    * (DataFrame-native) index search: the id set restricts the standard
    * query frame by broadcast semi-join — identical rows to the
    * literal-IN form by the txt_bm25_mass pin, with no driver round-trip
    * on the id set.
    */
  private def lexLegFor(spark: SparkSession, dir: String,
      querySet: DataFrame): DataFrame = {
    val lexQueries = TextAnalysis.bm25Queries(spark, dir)
      .join(broadcast(querySet.select(col("vec_id").as("query_id")).distinct()),
        Seq("query_id"), "left_semi")
    TextAnalysis.bm25SearchAgainstDf(spark, lexQueries)
      .select(col("query_id"), col("doc_id"), col("rk").as("rk_lex"))
  }

  /** A (q_id, rank, neighbor_id) ranking as the fusion's semantic leg. */
  private def semLeg(ranked: DataFrame): DataFrame =
    ranked.select(col("q_id").as("query_id"), col("neighbor_id").as("doc_id"),
      col("rank").as("rk_sem"))

  /** Reciprocal-rank fusion of two (query_id, doc_id, rank) tables —
    * parameterized over the semantic ranking so any ANN family member
    * (brute-force exact, IVF, multi-probe LSH) can serve that leg. A doc
    * missing from one side contributes only the other's term (coalesce
    * to 0 in ONE fixed expression, so the two-term double sum is
    * evaluation-order-free and hash-exact). Both inputs are O(queries x
    * k) rank tables, so everything here is metadata-scale.
    */
  private def rrfFuse(lex: DataFrame, sem: DataFrame): DataFrame = {
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .selectExpr("query_id", "doc_id",
        s"coalesce(1.0 / CAST($RrfK + rk_lex AS DOUBLE), 0.0) + " +
          s"coalesce(1.0 / CAST($RrfK + rk_sem AS DOUBLE), 0.0) AS rrf")
    fused.groupBy("query_id")
      .agg(graft.functions.TopK.topk(TopK)(col("doc_id"), col("rrf")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("doc_id"), col("col.score").as("rrf"))
      .orderBy("query_id", "rk")
  }

  /** The oracle restates BOTH rankings through window functions (the
    * formulation the engine deliberately avoids) — an independent
    * derivation of every rank that feeds the fusion.
    */
  val hybridRrfOracle: String = {
    val stride = graft.operators.TextAnalysis.Bm25QueryStride
    s"""WITH ${graft.operators.TextAnalysis.bm25ScoreCtes(stride)},
       |lex AS (
       |  SELECT query_id, doc_id, rk AS rk_lex FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rk
       |    FROM score
       |  ) WHERE rk <= $TopK
       |),
       |e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |),
       |sem AS (
       |  SELECT query_id, doc_id, rk AS rk_sem FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${duckDot("e.embedding", "q.embedding")} / (e.nrm * q.nrm) DESC,
       |          e.vec_id) AS rk
       |    FROM e JOIN e q ON q.vec_id % $stride = 0
       |  ) WHERE rk <= $TopK
       |),
       |fused AS (
       |  SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
       |    coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    coalesce(1.0 / CAST($RrfK + rk_lex AS DOUBLE), 0.0) +
       |      coalesce(1.0 / CAST($RrfK + rk_sem AS DOUBLE), 0.0) AS rrf
       |  FROM lex FULL JOIN sem
       |    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
       |)
       |SELECT query_id, rk, doc_id, rrf FROM (
       |  SELECT query_id, doc_id, rrf, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS rk
       |  FROM fused
       |)
       |WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Oracle for [[hybridRrfIvf]]: the BM25 score chain plus the IVF probe
    * chain (stride = the BM25 query stride, self kept), both re-derived
    * through the window formulations the engine avoids, fused by the same
    * two-term coalesce expression. The IVF chain's CTEs are prefixed `v`
    * because the BM25 chain already defines `q`.
    */
  val hybridRrfIvfOracle: String = {
    val stride = graft.operators.TextAnalysis.Bm25QueryStride
    s"""WITH ${graft.operators.TextAnalysis.bm25ScoreCtes(stride)},
       |lex AS (
       |  SELECT query_id, doc_id, rk AS rk_lex FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rk
       |    FROM score
       |  ) WHERE rk <= $TopK
       |),
       |${ivfChainFor(stride, includeSelf = true, p = "v")},
       |sem AS (
       |  SELECT q_id AS query_id, neighbor_id AS doc_id, rank AS rk_sem
       |  FROM vivf_ranked
       |),
       |fused AS (
       |  SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
       |    coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    coalesce(1.0 / CAST($RrfK + rk_lex AS DOUBLE), 0.0) +
       |      coalesce(1.0 / CAST($RrfK + rk_sem AS DOUBLE), 0.0) AS rrf
       |  FROM lex FULL JOIN sem
       |    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
       |)
       |SELECT query_id, rk, doc_id, rrf FROM (
       |  SELECT query_id, doc_id, rrf, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS rk
       |  FROM fused
       |)
       |WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Ranking evaluation: recall@k / reciprocal rank of an ANN vs the exact baseline
  // -------------------------------------------------------------------------

  /** RANKING EVALUATION as a first-class query — the measurement loop a
    * production ANN deployment runs continuously: per query, how much of
    * the exact top-k the IVF ranking recovered (recall@k) and where the
    * TRUE nearest neighbor landed (reciprocal rank; 0 when missed).
    * All metric arithmetic is exact rational (hits/k, 1/rank), so the
    * numbers hash across engines.
    *
    * Scale shape: both inputs are the already-audited rankings — each
    * O(queries x k) rows — so every join here is metadata-scale; the
    * expensive work is the rankings themselves, shared with their own
    * queries (and at steady state served from the persisted index
    * path).
    */
  def evalRecall(spark: SparkSession, dir: String): DataFrame =
    evalAgainstExact(spark, dir, ivfTopk(spark, dir))

  /** The same evaluation over the multi-probe LSH ranking — the eval
    * harness is family-generic: any (q_id, rank, neighbor_id) ranking
    * evaluates against the shared exact baseline.
    */
  def evalRecallMultiprobe(spark: SparkSession, dir: String): DataFrame =
    evalAgainstExact(spark, dir, multiprobeTopk(spark, dir))

  /** Recall@k / MRR of the index-served hybrid ranking ([[hybridRrfIvf]])
    * against the exact fusion ([[hybridRrf]]) — the number that certifies
    * swapping the brute-force semantic leg for the persisted IVF index.
    * Both rankings are O(queries x k); the harness is the same generic
    * metric core every ANN family member evaluates through.
    */
  def evalHybrid(spark: SparkSession, dir: String): DataFrame =
    evalFused(spark, dir, hybridRrfIvf(spark, dir))

  /** Recall@k / MRR of a fused (query_id, rk, doc_id) ranking against the
    * exact fusion.
    */
  private def evalFused(spark: SparkSession, dir: String, fused: DataFrame): DataFrame = {
    def asRanking(df: DataFrame): DataFrame =
      df.select(col("query_id").as("q_id"), col("rk").as("rank"),
        col("doc_id").as("neighbor_id"))
    evalCore(asRanking(fused), asRanking(hybridRrf(spark, dir)))
  }

  private[graft] def evalAgainstExact(spark: SparkSession, dir: String,
      approxDf: DataFrame): DataFrame =
    evalCore(approxDf, topkBruteforce(spark, dir))

  /** Evaluate ONE arriving batch of query ids against the frozen corpus:
    * rankings and metrics are per-query independent, so batch emissions
    * union to the one-shot evaluation exactly — the continuous
    * index-quality monitoring loop.
    */
  private[graft] def evalBatch(spark: SparkSession, dir: String,
      querySet: DataFrame): DataFrame = {
    val qs = Some(querySet)
    evalCore(ivfLabelSearch(spark, dir, withNorm(spark, dir), NProbe,
        strided(20), includeSelf = false, querySet = qs),
      topkBruteforceSet(spark, dir, qs))
  }

  /** Continuous evaluation: each micro-batch of arriving query vectors is
    * scored against the frozen corpus, both rankings restricted to the
    * batch's ids by broadcast semi-join — the id frame never collects to
    * the driver.
    */
  def evalStream(newQueries: DataFrame, dir: String)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newQueries)(b => sink(evalBatch(b.sparkSession, dir, b.select("vec_id"))))

  private def evalCore(approxDf: DataFrame, exactDf: DataFrame): DataFrame = {
    val approx = approxDf.select("q_id", "rank", "neighbor_id")
    val exact = exactDf.select("q_id", "rank", "neighbor_id")
    val hits = approx.join(exact.select("q_id", "neighbor_id"),
        Seq("q_id", "neighbor_id"))
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    val nn = exact.filter(col("rank") === 1)
      .select(col("q_id").as("nq"), col("neighbor_id").as("nn_id"))
    val nnr = approx.join(nn,
        col("q_id") === col("nq") && col("neighbor_id") === col("nn_id"))
      .select(col("q_id"), col("rank").as("nnrank_raw"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .join(nnr, Seq("q_id"), "left")
      .selectExpr("q_id",
        "CAST(coalesce(hits, 0) AS BIGINT) AS hits",
        s"CAST(coalesce(hits, 0) AS DOUBLE) / $TopK AS recall_at_k",
        "CAST(coalesce(nnrank_raw, 0) AS BIGINT) AS nn_rank",
        "coalesce(1.0 / CAST(nnrank_raw AS DOUBLE), 0.0) AS rr")
      .orderBy("q_id")
  }

  /** Oracle: both rankings re-derived through the window formulations,
    * metrics joined per query. `nnrank_raw` keeps a distinct name so
    * neither engine's lateral-column-alias resolution can bind the rr
    * expression to the coalesced output column.
    */
  /** Metric tail shared by every family's eval oracle: the chain must
    * define `e` (corpus + norms) and `q` (query side) plus a ranked CTE
    * named `ranked` via aliasing in the caller.
    */
  private def evalMetricsOracle(chain: String, ranked: String): String =
    s"""WITH $chain,
       |exact AS (
       |  SELECT q_id, rank, neighbor_id FROM (
       |    SELECT q.q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${duckDot("e.embedding", "q.q_emb")} / (e.nrm * q.q_nrm) DESC, e.vec_id) AS rank
       |    FROM e JOIN q ON e.vec_id <> q.q_id
       |  ) WHERE rank <= $TopK
       |),
       |hits AS (
       |  SELECT q_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM $ranked JOIN exact USING (q_id, neighbor_id) GROUP BY 1
       |),
       |nnr AS (
       |  SELECT a.q_id, a.rank AS nnrank_raw
       |  FROM $ranked a JOIN (SELECT q_id, neighbor_id FROM exact WHERE rank = 1) nn
       |    ON a.q_id = nn.q_id AND a.neighbor_id = nn.neighbor_id
       |)
       |SELECT qq.q_id AS q_id,
       |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(hits, 0) AS DOUBLE) / $TopK AS recall_at_k,
       |  CAST(coalesce(nnrank_raw, 0) AS BIGINT) AS nn_rank,
       |  coalesce(1.0 / CAST(nnrank_raw AS DOUBLE), 0.0) AS rr
       |FROM (SELECT DISTINCT q_id FROM exact) qq
       |LEFT JOIN hits ON qq.q_id = hits.q_id
       |LEFT JOIN nnr ON qq.q_id = nnr.q_id
       |ORDER BY q_id""".stripMargin

  val evalRecallOracle: String = evalMetricsOracle(ivfChainCtes, "ivf_ranked")

  val evalRecallMultiprobeOracle: String =
    evalMetricsOracle(multiprobeChainCtes, "mp_ranked")

  /** Oracle for [[evalHybrid]]: BOTH fused rankings re-derived in SQL —
    * the exact fusion (brute-force semantic leg) as the baseline, the
    * IVF-probe fusion as the candidate — then the same hits / recall@k /
    * nn-rank / rr metric tail as every other eval oracle. The two
    * rankings share the lexical CTE, exactly as the engine shares
    * [[bm25Leg]].
    */
  /** [[evalHybrid]] for the COMPRESSED-index fusion: recall@k / MRR of
    * [[hybridRrfPq]] against the exact fusion — what serving the
    * semantic leg from lossy codes (ADC + bounded exact re-rank) costs,
    * the certification a deployment reads before swapping the flat
    * index out for the RAM-bounded one.
    */
  def evalHybridPq(spark: SparkSession, dir: String): DataFrame =
    evalFused(spark, dir, hybridRrfPq(spark, dir))

  /** [[evalHybridOracle]] with the approx leg replaced by the full PQ
    * fusion replay ([[hybridRrfPqOracle]] riding as a nested WITH — its
    * CTEs shadow the outer chain's instead of colliding).
    */
  val evalHybridPqOracle: String = {
    val stride = graft.operators.TextAnalysis.Bm25QueryStride
    s"""WITH ${graft.operators.TextAnalysis.bm25ScoreCtes(stride)},
       |lex AS (
       |  SELECT query_id, doc_id, rk AS rk_lex FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rk
       |    FROM score
       |  ) WHERE rk <= $TopK
       |),
       |xe AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |),
       |xsem AS (
       |  SELECT query_id, doc_id, rk AS rk_sem FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${duckDot("e.embedding", "q.embedding")} / (e.nrm * q.nrm) DESC,
       |          e.vec_id) AS rk
       |    FROM xe e JOIN xe q ON q.vec_id % $stride = 0
       |  ) WHERE rk <= $TopK
       |),
       |exact AS (
       |  SELECT query_id AS q_id, doc_id AS neighbor_id, rk AS rank FROM (
       |    SELECT query_id, doc_id, rk FROM (
       |      SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |        ORDER BY rrf DESC, doc_id) AS rk
       |      FROM (
       |        SELECT coalesce(lex.query_id, s.query_id) AS query_id,
       |          coalesce(lex.doc_id, s.doc_id) AS doc_id,
       |          coalesce(1.0 / CAST($RrfK + rk_lex AS DOUBLE), 0.0) +
       |            coalesce(1.0 / CAST($RrfK + rk_sem AS DOUBLE), 0.0) AS rrf
       |        FROM lex FULL JOIN xsem s
       |          ON lex.query_id = s.query_id AND lex.doc_id = s.doc_id
       |      )
       |    ) WHERE rk <= $TopK
       |  )
       |),
       |approx AS (
       |  SELECT query_id AS q_id, doc_id AS neighbor_id, rk AS rank
       |  FROM (
       |$hybridRrfPqOracle
       |  )
       |),
       |hits AS (
       |  SELECT q_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM approx JOIN exact USING (q_id, neighbor_id) GROUP BY 1
       |),
       |nnr AS (
       |  SELECT a.q_id, a.rank AS nnrank_raw
       |  FROM approx a JOIN (SELECT q_id, neighbor_id FROM exact WHERE rank = 1) nn
       |    ON a.q_id = nn.q_id AND a.neighbor_id = nn.neighbor_id
       |)
       |SELECT qq.q_id AS q_id,
       |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(hits, 0) AS DOUBLE) / $TopK AS recall_at_k,
       |  CAST(coalesce(nnrank_raw, 0) AS BIGINT) AS nn_rank,
       |  coalesce(1.0 / CAST(nnrank_raw AS DOUBLE), 0.0) AS rr
       |FROM (SELECT DISTINCT q_id FROM exact) qq
       |LEFT JOIN hits ON qq.q_id = hits.q_id
       |LEFT JOIN nnr ON qq.q_id = nnr.q_id
       |ORDER BY q_id""".stripMargin
  }

  val evalHybridOracle: String = {
    val stride = graft.operators.TextAnalysis.Bm25QueryStride
    def fuse(sem: String): String =
      s"""SELECT query_id, doc_id, rk FROM (
         |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS rk
         |  FROM (
         |    SELECT coalesce(lex.query_id, s.query_id) AS query_id,
         |      coalesce(lex.doc_id, s.doc_id) AS doc_id,
         |      coalesce(1.0 / CAST($RrfK + rk_lex AS DOUBLE), 0.0) +
         |        coalesce(1.0 / CAST($RrfK + rk_sem AS DOUBLE), 0.0) AS rrf
         |    FROM lex FULL JOIN $sem s
         |      ON lex.query_id = s.query_id AND lex.doc_id = s.doc_id
         |  )
         |) WHERE rk <= $TopK""".stripMargin
    s"""WITH ${graft.operators.TextAnalysis.bm25ScoreCtes(stride)},
       |lex AS (
       |  SELECT query_id, doc_id, rk AS rk_lex FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rk
       |    FROM score
       |  ) WHERE rk <= $TopK
       |),
       |xe AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |),
       |xsem AS (
       |  SELECT query_id, doc_id, rk AS rk_sem FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${duckDot("e.embedding", "q.embedding")} / (e.nrm * q.nrm) DESC,
       |          e.vec_id) AS rk
       |    FROM xe e JOIN xe q ON q.vec_id % $stride = 0
       |  ) WHERE rk <= $TopK
       |),
       |${ivfChainFor(stride, includeSelf = true, p = "v")},
       |vsem AS (
       |  SELECT q_id AS query_id, neighbor_id AS doc_id, rank AS rk_sem
       |  FROM vivf_ranked
       |),
       |exact AS (
       |  SELECT query_id AS q_id, doc_id AS neighbor_id, rk AS rank
       |  FROM (${fuse("xsem")})
       |),
       |approx AS (
       |  SELECT query_id AS q_id, doc_id AS neighbor_id, rk AS rank
       |  FROM (${fuse("vsem")})
       |),
       |hits AS (
       |  SELECT q_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM approx JOIN exact USING (q_id, neighbor_id) GROUP BY 1
       |),
       |nnr AS (
       |  SELECT a.q_id, a.rank AS nnrank_raw
       |  FROM approx a JOIN (SELECT q_id, neighbor_id FROM exact WHERE rank = 1) nn
       |    ON a.q_id = nn.q_id AND a.neighbor_id = nn.neighbor_id
       |)
       |SELECT qq.q_id AS q_id,
       |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(hits, 0) AS DOUBLE) / $TopK AS recall_at_k,
       |  CAST(coalesce(nnrank_raw, 0) AS BIGINT) AS nn_rank,
       |  coalesce(1.0 / CAST(nnrank_raw AS DOUBLE), 0.0) AS rr
       |FROM (SELECT DISTINCT q_id FROM exact) qq
       |LEFT JOIN hits ON qq.q_id = hits.q_id
       |LEFT JOIN nnr ON qq.q_id = nnr.q_id
       |ORDER BY q_id""".stripMargin
  }
}
