package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Embedding-space clustering for corpus curation (the partitioning step
  * of SemDeDup / mixture-balancing pipelines: cluster the corpus, then
  * dedup or re-weight per cluster).
  *
  * Everything runs in QUANTIZED INTEGER space: coordinates are
  * floor(x * 1e6) as BIGINT, distances are exact integer sums, centroid
  * updates are floor(sum / count) — so Lloyd's algorithm is bit-identical
  * across engines (float k-means can't hash-match an oracle: cross-
  * partition float sums are order-dependent). Quantization error (1e-6
  * per coordinate) is far below any cluster structure worth keeping.
  */
object Clustering {

  /** Cluster count, Lloyd assignment rounds, and coordinate scale. */
  val K = 8
  val Iters = 3
  val Scale = 1000000L

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** Quantized vectors: q[i] = floor(double(embedding[i]) * Scale). */
  private def quantized(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).selectExpr("vec_id", quantizeSql)

  /** Centroid set rendered as a literal SQL array of structs — the
    * broadcast-to-every-row form: assignment is then a map-only
    * scan (argmin over K structs per row), with NO shuffle and no join.
    */
  private[graft] def centroidExpr(cents: Seq[(Int, Seq[Long])]): String =
    cents.sortBy(_._1).map { case (cid, arr) =>
      s"named_struct('cid', $cid, 'c', array(${arr.mkString("L, ")}L))"
    }.mkString("array(", ", ", ")")

  /** One Lloyd assignment: argmin_c ||q - c||² with deterministic
    * (dist, cid) tie-break via struct array_min.
    */
  private def assign(qDF: DataFrame, cents: Seq[(Int, Seq[Long])]): DataFrame =
    withAssignment(qDF, cents)
      .selectExpr("vec_id", "q",
        "best.cid AS cluster_id", "best.dist AS sq_dist")

  /** Attach the argmin-centroid struct (`best.cid`/`best.dist`) to ANY
    * frame carrying a quantized `q` column — the map-only assignment
    * seam the IVF composition ([[Similarity]]) probes through.
    */
  private[graft] def withAssignment(df: DataFrame, cents: Seq[(Int, Seq[Long])]): DataFrame =
    df.withColumn("best", expr(
      s"""array_min(transform(${centroidExpr(cents)},
         |  s -> named_struct(
         |    'dist', aggregate(zip_with(q, s.c, (a, b) -> (a - b) * (a - b)),
         |                      0L, (acc, x) -> acc + x),
         |    'cid', s.cid)))""".stripMargin))

  /** The quantization expression shared with [[Similarity]]'s IVF probe
    * (queries must quantize exactly like the fit did).
    */
  private[graft] val quantizeSql: String =
    s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS q"

  /** K-MEANS (exact integer Lloyd): [[Iters]] assignment rounds over
    * [[K]] centroids seeded from the K vectors with the smallest
    * md5(vec_id) (a deterministic pseudo-random draw both engines agree
    * on, fetched with a distributed top-K, not a global sort). Returns
    * the final assignment: vec_id, cluster_id, sq_dist.
    *
    * Scale shape: each assignment is a MAP-ONLY pass (centroids travel to
    * the data as a K-struct literal — the broadcast pattern); each update
    * is one aggregation whose map-side combine reduces every partition to
    * at most K×dim cells, so the shuffle carries K×dim×partitions tiny
    * rows regardless of corpus size. Driver traffic per round is exactly
    * K×dim longs (the new centroids) — bounded by construction, the same
    * K rows any distributed k-means must synchronize. Integer-overflow
    * headroom: |q| <= ~2^21 for unit-ish embeddings, so dist fits 2^63
    * for dim <= 2^19, and per-cluster coordinate sums stay inside
    * double-exact 2^53 up to ~10^10 vectors — beyond that, swap the
    * update division to DECIMAL(38,0).
    */
  /** The Lloyd FIT: seeds + [[Iters]]-1 update rounds, returning the
    * final centroid set (the model — K×dim longs).
    */
  private[graft] def fitCentroids(spark: SparkSession, dir: String): Seq[(Int, Seq[Long])] =
    fitCentroidsOn(quantized(spark, dir), K)

  /** The Lloyd fit over ANY (vec_id, q) frame with an explicit cluster
    * count — the [[fitCentroids]] body, generalized so product
    * quantization ([[Similarity.pqTopk]]) can fit one codebook per
    * subvector slice with the same seeds/update/tie-break contract (and
    * therefore the same unrolled oracle, via [[kmeansOracleCtes]] /
    * [[lloydCtes]]).
    */
  private[graft] def fitCentroidsOn(qDF0: DataFrame, k: Int): Seq[(Int, Seq[Long])] = {
    // The fit runs Iters Spark jobs (seed draw + Iters-1 updates) over the
    // SAME input; without a persist each job recomputes the full upstream
    // lineage (parquet scan + quantize, and for re-train fits an id join)
    // from scratch. Cache the narrow (vec_id, q) frame for the fit's
    // duration only — released before returning, so nothing leaks across
    // queries.
    val qDF = qDF0.persist()
    try {
      // seed draw: distributed TakeOrdered of (md5(id), id) — k rows collected
      val seedRows = qDF
        .withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy("h", "vec_id").limit(k)
        .select("q").collect()
      var cents: Seq[(Int, Seq[Long])] = seedRows.zipWithIndex.map { case (r, i) =>
        i -> r.getSeq[Long](0)
      }.toSeq
      for (_ <- 1 until Iters) {
        // update: two-level agg (map-side combine) over (cluster, dim) cells;
        // floor(sum/count) in double is exact while |sum| < 2^53
        val updated = assign(qDF, cents)
          .select(col("cluster_id"), posexplode(col("q")).as(Seq("pos", "v")))
          .groupBy("cluster_id", "pos")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .selectExpr("cluster_id", "pos",
            "CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS v")
          .collect()
          .groupBy(_.getInt(0))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
          }
        // a cluster that lost all members keeps its previous centroid
        cents = cents.map { case (cid, old) => cid -> updated.getOrElse(cid, old) }
      }
      cents
    } finally { qDF.unpersist(); () }
  }

  private def assignOut(qDF: DataFrame, cents: Seq[(Int, Seq[Long])]): DataFrame =
    assign(qDF, cents)
      .select(col("vec_id"), col("cluster_id").cast("int").as("cluster_id"),
        col("sq_dist"))
      .orderBy("vec_id")

  def kmeans(spark: SparkSession, dir: String): DataFrame =
    assignOut(quantized(spark, dir), fitCentroids(spark, dir))

  /** The session table the centroid model persists under by default (the
    * learned-centroid IVF in [[Similarity]] fits against it once per
    * source dir).
    */
  val KmeansModelTable = "graft_kmeans_model"

  /** Hyperparameter fingerprint for the persisted model — part of the
    * `graft.src` staleness key, so changing K/Iters/Scale (or the learner
    * itself, via the version tag) forces a refit instead of silently
    * reusing centroids trained under different parameters.
    */
  private[graft] val KmeansFingerprint = s"kmeans.v1;k=$K;iters=$Iters;scale=$Scale"

  /** Persist the fitted model — K rows of (cid, centroid). The FIT/APPLY
    * seam: training corpora are clustered once; later (or streaming)
    * vectors are assigned against the stored centroids without refitting.
    * Goes through [[graft.core.ModelTables.persistIfStale]]: a re-call
    * with the same (dir, fingerprint) is a metadata probe, zero fit jobs.
    */
  def persistCentroids(spark: SparkSession, dir: String,
      table: String = KmeansModelTable): Unit = {
    import spark.implicits._
    graft.core.ModelTables.persistIfStale(spark, dir, table, KmeansFingerprint) {
      fitCentroids(spark, dir).toDF("cid", "c")
        .write.mode("overwrite").saveAsTable(table)
    }
  }

  /** Load the persisted centroid set — ONE collect job over K rows
    * (bounded by construction), the model half of every apply path.
    */
  private[graft] def loadCentroids(spark: SparkSession, table: String): Seq[(Int, Seq[Long])] =
    spark.table(table).select("cid", "c").collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq).toSeq

  /** Map-only assignment of a vector table against a persisted centroid
    * model: the K model rows collect to the driver (bounded by
    * construction) and travel to the data as the same broadcast-literal
    * the fit uses — identical plan shape, no join, no shuffle.
    */
  def kmeansAgainst(spark: SparkSession, dir: String, table: String): DataFrame =
    assignOut(quantized(spark, dir), loadCentroids(spark, table))

  /** PER-DIMENSION EMBEDDING STATISTICS — the QA pass run before any
    * embedding-space work: per coordinate, min/max/mean (quantized
    * integers, floor-mean) and the count of vectors where the coordinate
    * is exactly the zero bucket. Dead dimensions (all zero), saturated
    * ones (min == max), and scale outliers show up immediately. One
    * posexplode + one aggregate whose map-side combine reduces every
    * partition to dim cells — shuffle volume is dim × partitions rows
    * regardless of corpus size.
    */
  def dimStats(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .select(posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        min("v").as("min_q"), max("v").as("max_q"),
        sum("v").as("s"),
        sum(when(col("v") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .selectExpr("dim", "n", "min_q", "max_q",
        "CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS mean_q", "n_zero")
      .orderBy("dim")

  val dimStatsOracle: String =
    s"""WITH q AS (
       |  SELECT list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |cells AS (
       |  SELECT u.i - 1 AS dim, q[u.i] AS v FROM q,
       |    (SELECT unnest(range(1, 65)) AS i) u
       |)
       |SELECT CAST(dim AS INTEGER) AS dim, CAST(count(*) AS BIGINT) AS n,
       |  min(v) AS min_q, max(v) AS max_q,
       |  CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS mean_q,
       |  CAST(count(*) FILTER (WHERE v = 0) AS BIGINT) AS n_zero
       |FROM cells GROUP BY dim ORDER BY dim""".stripMargin

  /** DuckDB unrolled Lloyd — same quantization, same integer arithmetic,
    * same (dist, cid) tie-break, same floor(sum/count) update, same
    * keep-previous-on-empty-cluster rule (via the left-join coalesce).
    * The CTE chain (q, seeds, a1..a3, c2..c3) is exposed separately so
    * [[graft.operators.Similarity]]'s IVF-over-kmeans oracle can build
    * its probe on the identical model (c3) and lists (a3).
    */
  /** The unrolled-Lloyd CTE chain over ANY (vec_id, q) CTE `src`, with
    * every generated CTE name prefixed by `pfx`: {pfx}seeds, {pfx}a1,
    * {pfx}c2, {pfx}a2, {pfx}c3, {pfx}a3 — exactly [[Iters]]=3 rounds,
    * matching [[fitCentroidsOn]] (c3 is the returned model, a3 the
    * assignment against it). Parameterized so product quantization
    * ([[Similarity]]) can replay one independent fit per subvector slice
    * in a single oracle query. MATERIALIZED evaluates each CTE once instead
    * of per reference (inlined, the nested PQ oracles exhaust DuckDB memory).
    */
  private[graft] def lloydCtes(src: String, pfx: String, dim: Int, k: Int): String = {
    // one assignment CTE against a centroid CTE named $c, producing (vec_id, cluster_id, sq_dist)
    def assignSql(c: String): String =
      s"""SELECT vec_id, cid AS cluster_id, dist AS sq_dist FROM (
         |  SELECT a.vec_id, c.cid,
         |    CAST(list_sum(list_transform(list_zip(a.q, c.c),
         |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_sum(list_transform(list_zip(a.q, c.c),
         |        x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT), c.cid) AS rn
         |  FROM $src a CROSS JOIN $c c
         |) WHERE rn = 1""".stripMargin
    def updateSql(assignCte: String, prevCte: String): String =
      s"""SELECT p.cid, coalesce(u.c, p.c) AS c
         |FROM $prevCte p LEFT JOIN (
         |  SELECT cluster_id AS cid, list(v ORDER BY pos) AS c FROM (
         |    SELECT a.cluster_id, t.i AS pos,
         |      CAST(floor(CAST(sum(q.q[t.i]) AS DOUBLE) / count(*)) AS BIGINT) AS v
         |    FROM $assignCte a JOIN $src q USING (vec_id), range(1, ${dim + 1}) t(i)
         |    GROUP BY a.cluster_id, t.i
         |  ) GROUP BY cluster_id
         |) u ON u.cid = p.cid""".stripMargin
    s"""${pfx}seeds AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS cid, q AS c
       |  FROM (SELECT vec_id, q FROM $src ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)
       |),
       |${pfx}a1 AS MATERIALIZED (${assignSql(s"${pfx}seeds")}),
       |${pfx}c2 AS MATERIALIZED (${updateSql(s"${pfx}a1", s"${pfx}seeds")}),
       |${pfx}a2 AS MATERIALIZED (${assignSql(s"${pfx}c2")}),
       |${pfx}c3 AS MATERIALIZED (${updateSql(s"${pfx}a2", s"${pfx}c2")}),
       |${pfx}a3 AS MATERIALIZED (${assignSql(s"${pfx}c3")})""".stripMargin
  }

  /** One assignment of an arbitrary (vec_id, q) CTE against a centroid
    * CTE — the oracle rendering of [[withAssignment]]'s argmin with the
    * same (dist, cid) tie-break; shared by the PQ-lifecycle and
    * rebalance-policy oracles, which assign sets the fit never saw.
    */
  private[graft] def oracleAssignSql(src: String, c: String): String =
    s"""SELECT vec_id, cid AS cluster_id FROM (
       |  SELECT a.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY CAST(list_sum(list_transform(list_zip(a.q, c.c),
       |        x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT), c.cid) AS rn
       |  FROM $src a CROSS JOIN $c c
       |) WHERE rn = 1""".stripMargin

  private[graft] val kmeansOracleCtes: String =
    s"""q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |${lloydCtes("q", "", 64, K)}""".stripMargin

  val kmeansOracle: String =
    s"""WITH $kmeansOracleCtes
       |SELECT vec_id, CAST(cluster_id AS INTEGER) AS cluster_id,
       |  CAST(sq_dist AS BIGINT) AS sq_dist
       |FROM a3 ORDER BY vec_id""".stripMargin
}
