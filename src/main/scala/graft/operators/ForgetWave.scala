package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Commit

/** RIGHT-TO-BE-FORGOTTEN AS ONE RESUMABLE WAVE across every persisted
  * index family.
  *
  * A real deletion request (GDPR art. 17, CCPA) hits the SAME subject in
  * every serving artifact the pipeline keeps: BM25 postings, the IVF and
  * PQ vector indexes, the dedup band table, the perceptual-hash band
  * table. Each family already has an idempotent forget verb (fenced
  * anti-join rewrites: [[TextAnalysis.forgetBm25Docs]],
  * [[Similarity.forgetIvfVectors]], [[Similarity.forgetPqVectors]],
  * [[Dedup.forgetCorpusDocs]], [[Multimodal.forgetPhashDocs]]) — what was
  * missing is COORDINATION: a crash between family rewrites left no
  * durable record of which families had applied, so an operator had to
  * re-drive all five by hand and hope.
  *
  * The wave fixes exactly that with a durable manifest:
  *
  *  1. PUBLISH — every family's key set is resolved FIRST (before any
  *     index mutates, so derived sets read the pre-wave generation of
  *     every index), written as parquet under `waveDir/ids/<family>` via
  *     the dot-tmp+rename discipline, then a MANIFEST file naming the
  *     families is published the same way. The manifest is the commit
  *     point: once it exists, the wave's id sets are frozen — a resume
  *     NEVER re-resolves (re-resolution after a partial apply would read
  *     already-mutated indexes and derive a different set).
  *  2. APPLY — families run in manifest order; each family's verb runs
  *     against its durable id set, then a zero-byte `done/<family>`
  *     marker is created. A crash between apply and marker re-applies on
  *     resume (every verb is an idempotent anti-join); a crash between
  *     families resumes at the first unmarked family.
  *
  * Resume = call [[run]] again with the same `waveDir`: published sets
  * load from the manifest, marked families skip, unmarked ones apply.
  * At 100x scale the wave costs exactly the five rewrites it always
  * cost — the manifest adds one bounded parquet write per family and a
  * few renames.
  */
object ForgetWave {

  /** One family's membership in a deletion wave: `key` is the id column
    * its verb filters on (`doc_id` for text/band indexes, `vec_id` for
    * the vector indexes), `resolve` derives the family's key set from the
    * deletion request (runs once, pre-wave), `apply` is the family's
    * idempotent forget verb.
    */
  final case class Family(name: String, key: String,
      resolve: () => DataFrame, apply: DataFrame => Unit)

  private def hfs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run (or RESUME) a deletion wave. Returns the per-family decision
    * log: (family, appliedThisCall) — a fully-applied wave returns all
    * false, the idempotent no-op.
    */
  def run(spark: SparkSession, waveDir: String,
      families: Seq[Family]): Seq[(String, Boolean)] = {
    require(families.map(_.name).distinct.size == families.size,
      "wave family names must be unique")
    val root = new Path(waveDir)
    val fs = hfs(spark, root)
    val manifest = new Path(root, "MANIFEST")
    if (!fs.exists(manifest)) {
      // publish phase: resolve EVERY set before ANY family applies
      families.foreach { f =>
        val ids = new Path(root, s"ids/${f.name}")
        if (!fs.exists(ids)) {
          val tmp = new Path(root, s".tmp-ids-${f.name}")
          f.resolve().select(f.key).write.mode("overwrite").parquet(tmp.toString)
          // r20 ADVICE: without the parent dir the first family's rename
          // either fails outright (HDFS-like FSes) or degrades to a
          // NON-atomic copy (RawLocalFileSystem) — and since fs.exists(ids)
          // is the resume-skip test, a crash mid-copy would freeze a
          // PARTIAL deletion set into the manifest. mkdirs first so the
          // rename is a true atomic commit.
          fs.mkdirs(ids.getParent)
          Commit.rename(fs, tmp, ids)
        }
      }
      Commit.writeFile(fs, new Path(root, ".tmp-MANIFEST"), manifest,
        families.map(_.name).mkString("", "\n", "\n"))
    }
    // a resume must describe the SAME wave: the manifest freezes the
    // family list, and a caller handing a different one is a bug, not a
    // new wave (new waves get new dirs)
    val named = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
    require(named == families.map(_.name).toList,
      s"wave $waveDir was published for families $named, caller passed ${families.map(_.name)}")
    families.map { f =>
      val done = new Path(root, s"done/${f.name}")
      if (fs.exists(done)) (f.name, false)
      else {
        f.apply(spark.read.parquet(new Path(root, s"ids/${f.name}").toString))
        fs.mkdirs(done.getParent)
        fs.create(done, true).close()
        (f.name, true)
      }
    }
  }

  /** True when every family in the wave has its done marker — the state
    * a monitoring loop polls before acknowledging the deletion request.
    */
  def isComplete(spark: SparkSession, waveDir: String,
      families: Seq[Family]): Boolean = {
    val fs = hfs(spark, new Path(waveDir))
    families.forall(f => fs.exists(new Path(waveDir, s"done/${f.name}")))
  }

  // -------------------------------------------------------------------------
  // The standard five-family wave over a corpus dir
  // -------------------------------------------------------------------------

  /** The five standard families bound to concrete index tables. The
    * derived sets (dedup/phash: the corpus docs currently suppressing an
    * arrival — the contested content a real deletion wave names) read
    * the PRE-WAVE tables; [[run]]'s publish-before-apply ordering is what
    * makes that well-defined.
    */
  private[graft] def standardFamilies(spark: SparkSession, dir: String,
      bm25Postings: String, bm25Df: String, bm25Stats: String,
      dedupTable: String, ivfTable: String,
      pqTable: String, pqCoarse: String, pqBooks: String,
      phashTable: String): Seq[Family] = Seq(
    Family("bm25", "doc_id",
      () => TextAnalysis.forgetDocIds(spark, dir),
      ids => { TextAnalysis.forgetBm25Docs(spark, ids,
        bm25Postings, bm25Df, bm25Stats); () }),
    Family("dedup", "doc_id",
      () => Dedup.incrementalAgainst(spark, dir, dedupTable)
        .filter(!col("keep")).select(col("match_doc").as("doc_id")).distinct(),
      ids => { Dedup.forgetCorpusDocs(spark, dedupTable, ids); () }),
    Family("ivf", "vec_id",
      () => Similarity.forgetVecIds(spark, dir),
      ids => { Similarity.forgetIvfVectors(spark, ivfTable, ids); () }),
    Family("phash", "doc_id",
      () => Multimodal.phashVerdictsAgainst(spark, dir, phashTable)
        .filter(!col("keep")).select(col("match_id").as("doc_id")).distinct(),
      ids => { Multimodal.forgetPhashDocs(spark, phashTable, ids); () }),
    Family("pq", "vec_id",
      () => Similarity.forgetVecIds(spark, dir),
      ids => { Similarity.forgetPqVectors(spark, pqTable, ids); () }))

  /** The nine index-table builds behind one wave gate, as
    * [[graft.core.ModelTables.persistGroupMutatedIfStale]] entries.
    */
  private[graft] def buildEntries(spark: SparkSession, dir: String,
      bm25Postings: String, bm25Df: String, bm25Stats: String,
      dedupTable: String, ivfTable: String,
      pqTable: String, pqCoarse: String, pqBooks: String,
      phashTable: String): Seq[(String, () => Unit)] =
    TextAnalysis.bm25IndexWrites(spark, dir, bm25Postings, bm25Df, bm25Stats) ++
      Seq[(String, () => Unit)](
        dedupTable -> (() => Dedup.persistCorpusBands(spark, dir, dedupTable)),
        ivfTable -> (() => Similarity.ivfIndexWriteFor(spark, dir, ivfTable)),
        pqCoarse -> (() => ()),
        pqBooks -> (() => ()),
        pqTable -> (() => Similarity.buildPqIndexFor(spark, dir, pqTable,
          pqCoarse, pqBooks)),
        phashTable -> (() => Multimodal.persistPhashBands(spark, dir, phashTable)))

  /** Every family's post-wave verification, normalized to ONE schema and
    * unioned — the observable contract of the whole wave: each family
    * must answer exactly as an index built from the corpus MINUS its
    * deletion set. (family, k1, k2, v1, v2) is:
    *   bm25  → (query_id, doc_id, rk, score_micro)
    *   dedup → (doc_id, match_doc, keep as 0/1, match_sim)
    *   ivf   → (q_id, neighbor_id, rank, cosine)
    *   phash → (doc_id, match_id, keep as 0/1, match_ham)
    *   pq    → (q_id, neighbor_id, rank, dist)
    * (family, k1, v1) is unique within each family, so the ORDER BY is a
    * total order and the frame hashes deterministically.
    */
  private[graft] def verifyAll(spark: SparkSession, dir: String,
      bm25Postings: String, bm25Df: String, bm25Stats: String,
      dedupTable: String, ivfTable: String,
      pqTable: String, pqCoarse: String, pqBooks: String,
      phashTable: String): DataFrame = {
    def norm(family: String, df: DataFrame, k1: String, k2: String,
        v1: Column, v2: Column): DataFrame =
      df.select(lit(family).as("family"), col(k1).cast("long").as("k1"),
        col(k2).cast("long").as("k2"), v1.cast("long").as("v1"),
        v2.cast("double").as("v2"))
    val keep01 = when(col("keep"), 1L).otherwise(0L)
    val bm = norm("bm25",
      TextAnalysis.bm25SearchAgainst(spark, TextAnalysis.bm25Queries(spark, dir),
        bm25Postings, bm25Df, bm25Stats),
      "query_id", "doc_id", col("rk"), col("score_micro"))
    val dd = norm("dedup", Dedup.incrementalAgainst(spark, dir, dedupTable),
      "doc_id", "match_doc", keep01, col("match_sim"))
    val iv = norm("ivf", Similarity.ivfTopkAgainst(spark, dir, ivfTable),
      "q_id", "neighbor_id", col("rank"), col("cosine"))
    val ph = norm("phash", Multimodal.phashVerdictsAgainst(spark, dir, phashTable),
      "doc_id", "match_id", keep01, col("match_ham"))
    val pqv = norm("pq", Similarity.pqServe(spark, dir, pqTable, pqCoarse, pqBooks),
      "q_id", "neighbor_id", col("rank"), col("dist"))
    bm.unionByName(dd).unionByName(iv).unionByName(ph).unionByName(pqv)
      .orderBy("family", "k1", "v1", "k2")
  }

  private val WvTables = Seq("wv_bm25_postings", "wv_bm25_df", "wv_bm25_stats",
    "wv_dedup_bands", "wv_ivf_index", "wv_pq_index", "wv_pq_coarse",
    "wv_pq_books", "wv_phash_bands")

  private def applyT[A](tables: Seq[String])(
      f: (String, String, String, String, String, String, String, String, String) => A): A =
    f(tables(0), tables(1), tables(2), tables(3), tables(4), tables(5),
      tables(6), tables(7), tables(8))

  /** `pipe_forget_all`: build all five index families over the corpus,
    * run ONE deletion wave across them through the durable manifest, and
    * verify every family against its filtered-build oracle. Build + wave
    * run under the build-then-mutate staleness gate; steady-state calls
    * pay only the five verification reads. A rebuild is a NEW wave, so
    * the previous generation's manifest is dropped first — a stale
    * completed manifest would mark every family done and skip the wave.
    */
  def forgetAll(spark: SparkSession, dir: String): DataFrame =
    forgetAllWith(spark, dir, WvTables, "forget-wave:v1") { families =>
      val waveDir = new Path(
        spark.conf.get("spark.sql.warehouse.dir"), "wv_forget_wave").toString
      hfs(spark, new Path(waveDir)).delete(new Path(waveDir), true)
      run(spark, waveDir, families); ()
    }

  /** Shared gate core: persist `tables` (nine builds) under `group`,
    * hand the bound families to `wave` as the mutation, verify.
    */
  private[graft] def forgetAllWith(spark: SparkSession, dir: String,
      tables: Seq[String], group: String)(
      wave: Seq[Family] => Unit): DataFrame = {
    graft.core.ModelTables.persistGroupMutatedIfStale(spark, dir, group)(
      applyT(tables)(buildEntries(spark, dir, _, _, _, _, _, _, _, _, _)): _*)(
      () => wave(applyT(tables)(standardFamilies(spark, dir, _, _, _, _, _, _, _, _, _))))
    applyT(tables)(verifyAll(spark, dir, _, _, _, _, _, _, _, _, _))
  }

  private[graft] val Wv2Tables = WvTables.map(_.replace("wv_", "wv2_"))

  /** The union of the five family oracles, normalized to the
    * [[verifyAll]] schema. Each family's full oracle chain rides as a
    * NESTED WITH inside its own derived table, so CTE names (`d`, `q`,
    * `bands`, `sig`, ...) shadow per-branch instead of colliding.
    */
  val forgetAllOracle: String =
    s"""SELECT family, k1, k2, v1, v2 FROM (
       |SELECT 'bm25' AS family, CAST(query_id AS BIGINT) AS k1,
       |  CAST(doc_id AS BIGINT) AS k2, CAST(rk AS BIGINT) AS v1,
       |  CAST(score_micro AS DOUBLE) AS v2
       |FROM (
       |${TextAnalysis.bm25ForgetOracle}
       |)
       |UNION ALL
       |SELECT 'dedup' AS family, CAST(doc_id AS BIGINT) AS k1,
       |  CAST(match_doc AS BIGINT) AS k2,
       |  CAST(CASE WHEN keep THEN 1 ELSE 0 END AS BIGINT) AS v1,
       |  CAST(match_sim AS DOUBLE) AS v2
       |FROM (
       |${Dedup.corpusForgetOracle}
       |)
       |UNION ALL
       |SELECT 'ivf' AS family, CAST(q_id AS BIGINT) AS k1,
       |  CAST(neighbor_id AS BIGINT) AS k2, CAST(rank AS BIGINT) AS v1,
       |  CAST(cosine AS DOUBLE) AS v2
       |FROM (
       |${Similarity.ivfForgetOracle}
       |)
       |UNION ALL
       |SELECT 'phash' AS family, CAST(doc_id AS BIGINT) AS k1,
       |  CAST(match_id AS BIGINT) AS k2,
       |  CAST(CASE WHEN keep THEN 1 ELSE 0 END AS BIGINT) AS v1,
       |  CAST(match_ham AS DOUBLE) AS v2
       |FROM (
       |${Multimodal.phashForgetOracle}
       |)
       |UNION ALL
       |SELECT 'pq' AS family, CAST(q_id AS BIGINT) AS k1,
       |  CAST(neighbor_id AS BIGINT) AS k2, CAST(rank AS BIGINT) AS v1,
       |  CAST(dist AS DOUBLE) AS v2
       |FROM (
       |${Similarity.pqForgetOracle}
       |)
       |)
       |ORDER BY family, k1, v1, k2""".stripMargin
}
