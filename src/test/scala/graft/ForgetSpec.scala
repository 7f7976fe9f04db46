package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextAnalysis}

/** Right-to-be-forgotten: deletion must PROPAGATE through the persisted
  * serving artifacts (BM25 postings + derived df/stats, the bucketed IVF
  * index), leaving each bit-equal to an index built from the corpus
  * without the forgotten rows — the contract the `txt_bm25_forget` /
  * `sim_ivf_forget` / `stream_forget_docs` oracles hold at sf0.01, pinned
  * here at table granularity plus the crash/idempotence paths the oracle
  * can't reach.
  */
class ForgetSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def drop(ts: String*): Unit =
    ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def queries: DataFrame =
    TextAnalysis.bm25QueriesOf(TextAnalysis.bm25Corpus(spark, Sf0001))

  test("bm25 forget leaves postings/df/stats bit-equal to a filtered-corpus build") {
    val a = Seq("fgs_post_a", "fgs_df_a", "fgs_stats_a")
    val b = Seq("fgs_post_b", "fgs_df_b", "fgs_stats_b")
    val base = "fgs_gen"
    drop(a ++ b: _*)
    TextAnalysis.bm25GenDropAll(spark, base)
    try {
      // the in-place rewrite...
      TextAnalysis.bm25IndexWrites(spark, Sf0001, a(0), a(1), a(2)).foreach(_._2())
      TextAnalysis.forgetBm25Docs(spark,
        TextAnalysis.forgetDocIds(spark, Sf0001), a(0), a(1), a(2))
      // ...and the generation rewrite: g=1 is g=0 with the forget anti-join
      TextAnalysis.bm25GenInit(spark, base, TextAnalysis.bm25Corpus(spark, Sf0001))
      assert(TextAnalysis.bm25GenRewrite(spark, base)(_.join(
        broadcast(TextAnalysis.forgetDocIds(spark, Sf0001)), Seq("doc_id"), "left_anti")) === 1L)
      val (gp, gd, gs) = TextAnalysis.genTables(base, 1L)
      val filtered = TextAnalysis.bm25Corpus(spark, Sf0001)
        .filter(col("doc_id") % TextAnalysis.Bm25ForgetMod =!= TextAnalysis.Bm25ForgetRem)
      TextAnalysis.bm25IndexWritesOf(spark, filtered, b(0), b(1), b(2)).foreach(_._2())
      for ((path, Seq(p, d, st)) <- Seq("in-place" -> a, "generation" -> Seq(gp, gd, gs))) {
        assert(rows(spark.table(p)) === rows(spark.table(b(0))), s"$path: postings differ")
        assert(rows(spark.table(d)) === rows(spark.table(b(1))), s"$path: df differs")
        // stats may differ in generation count; the search-time fold is the
        // contract
        def folded(t: String) = spark.table(t)
          .agg(sum("n_docs").cast("bigint"), sum("sum_dl").cast("bigint"))
          .head().toString
        assert(folded(st) === folded(b(2)), s"$path: folded stats differ")
        // and no forgotten doc survives anywhere
        assert(spark.table(p)
          .filter(col("doc_id") % TextAnalysis.Bm25ForgetMod === TextAnalysis.Bm25ForgetRem)
          .count() === 0L, s"$path: a forgotten doc survives")
      }
    } finally {
      drop(a ++ b: _*)
      TextAnalysis.bm25GenDropAll(spark, base)
    }
  }

  test("bm25 forget is idempotent: re-forgetting changes nothing") {
    val t = Seq("fgs_post_i", "fgs_df_i", "fgs_stats_i")
    drop(t: _*)
    try {
      TextAnalysis.bm25IndexWrites(spark, Sf0001, t(0), t(1), t(2)).foreach(_._2())
      val ids = TextAnalysis.forgetDocIds(spark, Sf0001)
      TextAnalysis.forgetBm25Docs(spark, ids, t(0), t(1), t(2))
      val once = rows(TextAnalysis.bm25SearchAgainst(spark, queries, t(0), t(1), t(2)))
      TextAnalysis.forgetBm25Docs(spark, ids, t(0), t(1), t(2))
      val twice = rows(TextAnalysis.bm25SearchAgainst(spark, queries, t(0), t(1), t(2)))
      assert(once === twice)
    } finally drop(t: _*)
  }

  test("a forget crash between postings rewrite and stats rebuild is detected and repaired") {
    val t = Seq("fgs_post_c", "fgs_df_c", "fgs_stats_c")
    val ref = Seq("fgs_post_r", "fgs_df_r", "fgs_stats_r")
    drop(t ++ ref: _*)
    try {
      TextAnalysis.bm25IndexWrites(spark, Sf0001, t(0), t(1), t(2)).foreach(_._2())
      TextAnalysis.bm25IndexWrites(spark, Sf0001, ref(0), ref(1), ref(2)).foreach(_._2())
      val ids = TextAnalysis.forgetDocIds(spark, Sf0001)
      // the reference completes its forget
      TextAnalysis.forgetBm25Docs(spark, ids, ref(0), ref(1), ref(2))
      val want = rows(TextAnalysis.bm25SearchAgainst(spark, queries, ref(0), ref(1), ref(2)))
      // the victim dies INSIDE the fence: postings already forgotten,
      // df/stats still the full-corpus build
      intercept[RuntimeException] {
        TextAnalysis.rewriteBm25IndexHooked(spark, t(0), t(1), t(2))(
          _.join(broadcast(ids), Seq("doc_id"), "left_anti"))(
          () => throw new RuntimeException("crash before stats rebuild"))
      }
      assert(TextAnalysis.bm25CompactionTorn(spark, t(0)),
        "marker must survive the crash")
      // the next search must repair (recompaction rebuilds df/stats from
      // the already-forgotten postings) and answer like the completed one
      val got = rows(TextAnalysis.bm25SearchAgainst(spark, queries, t(0), t(1), t(2)))
      assert(!TextAnalysis.bm25CompactionTorn(spark, t(0)), "marker must clear")
      assert(got === want)
    } finally drop(t ++ ref: _*)
  }

  test("ivf forget equals a filtered-corpus index, forgotten vectors never served") {
    val (a, b) = ("fgs_ivf_a", "fgs_ivf_b")
    drop(a, b)
    try {
      Similarity.persistIvfIndex(spark, Sf0001, a)
      Similarity.forgetIvfVectors(spark, a, Similarity.forgetVecIds(spark, Sf0001))
      // reference: bucket-aligned build over the filtered vectors
      // same norm arithmetic + layout as persistIvfIndex, from the
      // filtered vectors
      graft.core.Tables.load(spark, Sf0001, "embeddings")
        .filter(col("vec_id") % Similarity.IvfForgetMod =!= Similarity.IvfForgetRem)
        .withColumn("nrm", Similarity.norm(col("embedding")))
        .select("label", "vec_id", "embedding", "nrm")
        .write.bucketBy(8, "label").saveAsTable(b)
      val ga = rows(Similarity.ivfTopkAgainst(spark, Sf0001, a))
      val gb = rows(Similarity.ivfTopkAgainst(spark, Sf0001, b))
      assert(ga === gb)
      // deletion is visible at serving time: nothing forgotten is returned
      val served = Similarity.ivfTopkAgainst(spark, Sf0001, a)
        .filter(col("neighbor_id") % Similarity.IvfForgetMod === Similarity.IvfForgetRem)
        .count()
      assert(served === 0L)
    } finally drop(a, b)
  }

  test("dedup-index forget equals a filtered-corpus build; forgotten docs stop suppressing") {
    import graft.operators.Dedup
    import spark.implicits._
    val (a, b) = ("fgs_bands_a", "fgs_bands_b")
    drop(a, b)
    try {
      Dedup.persistCorpusBands(spark, Sf0001, a)
      val v0 = Dedup.incrementalAgainst(spark, Sf0001, a).collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getDouble(3)))
      val suppressed = v0.filter(!_._2)
      assert(suppressed.nonEmpty, "fixture must have suppressions or the verb is vacuous")
      val fgIds = suppressed.map(_._3).toSet
      Dedup.forgetCorpusDocs(spark, a,
        fgIds.toSeq.toDF("doc_id"))
      // reference: band table built from the corpus minus the forget set
      Dedup.bandKeysOf(spark.read.parquet(s"$Sf0001/documents.parquet")
          .filter(col("doc_id") % 10 < 8)
          .filter(!col("doc_id").isin(fgIds.toSeq: _*)))
        .write.bucketBy(16, "band_key").saveAsTable(b)
      assert(rows(spark.table(a)) === rows(spark.table(b)),
        "forgotten band table differs from the filtered-corpus build")
      // idempotence: re-forgetting the same ids is a no-op on content
      val before = rows(spark.table(a))
      Dedup.forgetCorpusDocs(spark, a, fgIds.toSeq.toDF("doc_id"))
      assert(rows(spark.table(a)) === before)
      // the RTBF observable: every previously-suppressed arrival now
      // either keeps or matches a DIFFERENT (unforgotten) corpus doc
      val v1 = Dedup.incrementalAgainst(spark, Sf0001, a).collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
        .map(t => t._1 -> (t._2, t._3)).toMap
      suppressed.foreach { case (id, _, oldMatch, _) =>
        val (keep, newMatch) = v1(id)
        assert(keep || (newMatch != oldMatch && !fgIds.contains(newMatch)),
          s"doc $id still suppressed by forgotten content: old=$oldMatch new=$newMatch")
      }
      assert(suppressed.exists { case (id, _, _, _) => v1(id)._1 },
        "at least one suppressed arrival must become admitted post-forget")
    } finally drop(a, b)
  }

  test("phash-index forget equals a filtered-corpus build; forgotten media stop suppressing") {
    import graft.operators.Multimodal
    import spark.implicits._
    val (a, b) = ("fgs_phash_a", "fgs_phash_b")
    drop(a, b)
    try {
      Multimodal.persistPhashBands(spark, Sf0001, a)
      val v0 = Multimodal.phashVerdictsAgainst(spark, Sf0001, a).collect()
        .map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3)))
      val suppressed = v0.filter(!_._2)
      assert(suppressed.nonEmpty, "fixture must have suppressions or the verb is vacuous")
      val fgIds = suppressed.map(_._3).toSet
      Multimodal.forgetPhashDocs(spark, a, fgIds.toSeq.toDF("doc_id"))
      // reference: phash band table built from the corpus minus the forget set
      Multimodal.phashBandsOf(Multimodal.phashes(
          Multimodal.corpusMedia(spark, Sf0001)
            .filter(!col("doc_id").isin(fgIds.toSeq: _*))
            .as[graft.operators.MediaRecord]))
        .write.bucketBy(8, "bsig").saveAsTable(b)
      assert(rows(spark.table(a)) === rows(spark.table(b)),
        "forgotten phash band table differs from the filtered-corpus build")
      // idempotence: re-forgetting the same ids is a no-op on content
      val before = rows(spark.table(a))
      Multimodal.forgetPhashDocs(spark, a, fgIds.toSeq.toDF("doc_id"))
      assert(rows(spark.table(a)) === before)
      // the RTBF observable: every previously-suppressed arrival now
      // either keeps or matches a DIFFERENT (unforgotten) corpus doc —
      // its perceptual content is re-admittable, no ghost suppression
      val v1 = Multimodal.phashVerdictsAgainst(spark, Sf0001, a).collect()
        .map(r => r.getLong(0) -> (r.getBoolean(2), r.getLong(3))).toMap
      suppressed.foreach { case (id, _, oldMatch) =>
        val (keep, newMatch) = v1(id)
        assert(keep || (newMatch != oldMatch && !fgIds.contains(newMatch)),
          s"doc $id still suppressed by forgotten content: old=$oldMatch new=$newMatch")
      }
      assert(suppressed.exists { case (id, _, _) => v1(id)._1 },
        "at least one suppressed arrival must become admitted post-forget")
    } finally drop(a, b)
  }

  test("phash band compaction drops replay residue and folds files, content-invariant") {
    import graft.operators.Multimodal
    val t = "fgs_phash_compact"
    drop(t)
    try {
      Multimodal.persistPhashBands(spark, Sf0001, t)
      val want = rows(spark.table(t))
      // simulate at-least-once replay residue: re-append one arrival's
      // band rows twice (the admit path's append, duplicated)
      val dup = spark.table(t).limit(4)
      dup.write.mode("append").bucketBy(8, "bsig").saveAsTable(t)
      dup.write.mode("append").bucketBy(8, "bsig").saveAsTable(t)
      spark.catalog.refreshTable(t)
      assert(rows(spark.table(t)).size === want.size + 8)
      val (beforeFiles, afterFiles) = Multimodal.compactPhashBands(spark, t)
      assert(afterFiles <= beforeFiles)
      assert(rows(spark.table(t)) === want,
        "distinct-fold must restore the exact pre-residue content")
    } finally drop(t)
  }

  test("deletion-wave protocol: a publish crash re-resolves only the missing sets; the manifest freezes the list") {
    import graft.operators.ForgetWave
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-wave-proto")
    val waveDir = root.resolve("wave").toString
    val applied = scala.collection.mutable.Map.empty[String, Long]
    val resolves = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def fam(name: String, n: Long, poisonFirstResolve: Boolean = false) =
      ForgetWave.Family(name, "doc_id",
        resolve = () => {
          resolves(name) += 1
          if (poisonFirstResolve && resolves(name) == 1)
            throw new RuntimeException(s"crash resolving $name")
          (0L until n).toDF("doc_id")
        },
        apply = ids => { applied(name) = ids.count(); () })
    try {
      // CRASH DURING PUBLISH: family b's first resolve dies. Family a's id
      // set is already published; nothing has applied anywhere.
      intercept[RuntimeException] {
        ForgetWave.run(spark, waveDir,
          Seq(fam("a", 2), fam("b", 3, poisonFirstResolve = true), fam("c", 4)))
      }
      assert(applied.isEmpty, "a publish crash must precede every apply")
      // RETRY: only the UNPUBLISHED sets re-resolve (a's parquet dir is the
      // durable record; re-resolving a published set is forbidden only
      // after the manifest — before it, missing sets may re-derive because
      // nothing has mutated yet)
      val d1 = ForgetWave.run(spark, waveDir,
        Seq(fam("a", 2), fam("b", 3), fam("c", 4)))
      assert(d1 === Seq("a" -> true, "b" -> true, "c" -> true))
      assert(resolves("a") === 1, "a published set must not re-resolve")
      assert(resolves("b") === 2 && resolves("c") === 1, s"got $resolves")
      assert(applied === Map("a" -> 2L, "b" -> 3L, "c" -> 4L))
      // the manifest FREEZES the family list: a resume describing a
      // different wave is a caller bug, not a new wave
      intercept[IllegalArgumentException] {
        ForgetWave.run(spark, waveDir, Seq(fam("a", 2), fam("b", 3)))
      }
      // duplicate family names are refused up front
      intercept[IllegalArgumentException] {
        ForgetWave.run(spark, root.resolve("w2").toString,
          Seq(fam("x", 1), fam("x", 1)))
      }
      // a completed wave is a durable no-op
      assert(ForgetWave.run(spark, waveDir,
        Seq(fam("a", 2), fam("b", 3), fam("c", 4))).forall(!_._2))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root.toFile)
    }
  }

  test("a torn deletion wave resumes to the all-five filtered state; sets frozen at publish") {
    import graft.operators.{Dedup, ForgetWave, Multimodal}
    val wv = Seq("tws_post", "tws_df", "tws_stats", "tws_bands", "tws_ivf",
      "tws_pq", "tws_pq_coarse", "tws_pq_books", "tws_phash")
    val ct = wv.map(_.replace("tws_", "twc_"))
    drop(wv ++ ct: _*)
    val waveDir = java.nio.file.Files.createTempDirectory("graft-wave-spec")
      .resolve("wave").toString
    def families(resolved: java.util.concurrent.atomic.AtomicInteger) =
      ForgetWave.standardFamilies(spark, Sf0001, wv(0), wv(1), wv(2), wv(3),
          wv(4), wv(5), wv(6), wv(7), wv(8))
        .map(f => f.copy(resolve = () => { resolved.incrementAndGet(); f.resolve() }))
    try {
      ForgetWave.buildEntries(spark, Sf0001, wv(0), wv(1), wv(2), wv(3),
        wv(4), wv(5), wv(6), wv(7), wv(8)).foreach(_._2())
      val resolved = new java.util.concurrent.atomic.AtomicInteger(0)
      // CRASH 1: between the ivf apply and its done marker (the verb ran,
      // the wave has no record) — bm25 and dedup are marked, phash/pq
      // never reached
      intercept[RuntimeException] {
        ForgetWave.run(spark, waveDir, families(resolved).map(f =>
          if (f.name == "ivf")
            f.copy(apply = ids => { f.apply(ids)
              throw new RuntimeException("crash after ivf rewrite") })
          else f))
      }
      assert(resolved.get === 5, "publish must resolve every family once")
      assert(!ForgetWave.isComplete(spark, waveDir, families(resolved)))
      // CRASH 2: between family rewrites (before phash does anything).
      // The resume must NOT re-resolve (the manifest froze the sets —
      // re-derivation would now read already-mutated indexes), must
      // re-apply the unmarked ivf (idempotent anti-join), and must crash
      // with bm25/dedup untouched.
      intercept[RuntimeException] {
        ForgetWave.run(spark, waveDir, families(resolved).map(f =>
          if (f.name == "phash")
            f.copy(apply = _ => throw new RuntimeException("crash before phash"))
          else f))
      }
      assert(resolved.get === 5, "a resume must never re-resolve a published wave")
      // CLEAN RESUME: only the unfinished families apply
      val decisions = ForgetWave.run(spark, waveDir, families(resolved))
      assert(decisions === Seq("bm25" -> false, "dedup" -> false,
        "ivf" -> false, "phash" -> true, "pq" -> true))
      assert(ForgetWave.isComplete(spark, waveDir, families(resolved)))
      assert(resolved.get === 5)
      // a fully-applied wave is a no-op
      assert(ForgetWave.run(spark, waveDir, families(resolved)).forall(!_._2))
      // BIT-EQUALITY ON ALL FIVE vs a control build anti-joined with the
      // PUBLISHED id sets (read back from the manifest — the sets the
      // wave is accountable to)
      ForgetWave.buildEntries(spark, Sf0001, ct(0), ct(1), ct(2), ct(3),
        ct(4), ct(5), ct(6), ct(7), ct(8)).foreach(_._2())
      def ids(fam: String) = spark.read.parquet(s"$waveDir/ids/$fam")
      def anti(table: String, fam: String, key: String) = {
        // re-select the declared column order: a USING join moves its key
        // to the front (the rewriteBucketedTable discipline)
        val cols = spark.table(table).columns
        spark.table(table).join(ids(fam), Seq(key), "left_anti")
          .select(cols.map(col).toIndexedSeq: _*)
      }
      val post = anti(ct(0), "bm25", "doc_id")
      assert(rows(spark.table(wv(0))) === rows(post), "bm25 postings differ")
      assert(rows(spark.table(wv(1))) ===
        rows(post.groupBy("token").agg(count(lit(1)).cast("bigint").as("df"))),
        "bm25 df differs from a surviving-postings rebuild")
      assert(rows(spark.table(wv(2))) ===
        rows(post.groupBy("doc_id").agg(max("dl").as("dl"))
          .agg(count(lit(1)).cast("bigint").as("n_docs"),
            sum("dl").cast("bigint").as("sum_dl"))),
        "bm25 stats differ from a surviving-postings rebuild")
      assert(rows(spark.table(wv(3))) === rows(anti(ct(3), "dedup", "doc_id")),
        "dedup band table differs")
      assert(rows(spark.table(wv(4))) === rows(anti(ct(4), "ivf", "vec_id")),
        "ivf index differs")
      // the PQ fits are deterministic, so the control build's codes are
      // the wave build's codes; forget deletes rows, never re-trains
      assert(rows(spark.table(wv(5))) === rows(anti(ct(5), "pq", "vec_id")),
        "pq code index differs")
      assert(rows(spark.table(wv(6))) === rows(spark.table(ct(6))),
        "pq coarse model must be untouched by the wave")
      assert(rows(spark.table(wv(7))) === rows(spark.table(ct(7))),
        "pq codebooks must be untouched by the wave")
      assert(rows(spark.table(wv(8))) === rows(anti(ct(8), "phash", "doc_id")),
        "phash band table differs")
    } finally {
      drop(wv ++ ct: _*)
      val d = new java.io.File(waveDir).getParentFile
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(d)
    }
  }
}
