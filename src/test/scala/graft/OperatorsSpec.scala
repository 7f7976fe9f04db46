package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Sanity/semantic specs for the extension operators (the exact-value
  * verification against DuckDB runs in the driver's t2 gate; these check
  * the operator-level invariants that a hash compare can't express).
  */
class OperatorsSpec extends SparkSpec {

  import spark.implicits._

  test("minhash est_sim approximates true jaccard on candidate pairs") {
    val mh = Dedup.minhashLsh(spark, Sf0001)
      .select("doc_a", "doc_b", "est_sim").as[(Long, Long, Double)].collect()
    val jac = Dedup.ngramJaccard(spark, Sf0001)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(mh.nonEmpty)
    mh.foreach { case (a, b, est) =>
      assert(est >= 0.0 && est <= 1.0)
      // banded candidates must share at least one identical band (est >= 1/16
      // would not be guaranteed, but a full 4-slot band match implies >= 4/16)
      assert(est >= 0.25, s"candidate ($a,$b) with est_sim $est lacks a full band match")
    }
    // where both pipelines emit a pair, the estimates should correlate loosely
    val both = mh.flatMap { case (a, b, est) => jac.get((a, b)).map(j => (est, j)) }
    both.foreach { case (est, j) => assert(math.abs(est - j) < 0.6) }
  }

  test("simhash of identical token multisets is identical; differing docs differ") {
    val sh = Dedup.simhash(spark, Sf0001).as[(Long, Long)].collect().toMap
    assert(sh.size === 500)
    // hamming distance helper over the 60-bit hashes
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val vals = sh.values.toSeq
    // random distinct docs should rarely collide to tiny hamming distance
    val close = vals.combinations(2).take(2000).count { case Seq(a, b) => ham(a, b) <= 4 }
    assert(close < 50)
  }

  test("brute-force top-k: neighbors are sorted and self is excluded") {
    val tk = Similarity.topkBruteforce(spark, Sf0001)
      .select("q_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Long, Long, Double)].collect()
    assert(tk.nonEmpty)
    tk.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.forall(_._3 != q), s"query $q returned itself")
      val sorted = rows.sortBy(_._2).map(_._4)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b },
        s"cosines not descending for query $q")
      assert(rows.length === Similarity.TopK)
    }
  }

  test("LSH near-dup candidates never miss a same-bucket high-cosine pair") {
    val pairs = Similarity.lshNearDup(spark, Sf0001)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    pairs.foreach { case (a, b, c) => assert(a < b); assert(c >= 0.3) }
  }

  test("exact dedup partitions the corpus (keepers + copies = total)") {
    val d = Dedup.exact(spark, Sf0001)
      .agg(sum("n_copies"), count(lit(1))).head()
    assert(d.getLong(0) === 500L)
  }

  test("multimodal decode is deterministic and preserves row count") {
    val f1 = Multimodal.features(spark, Sf0001).collect()
    val f2 = Multimodal.features(spark, Sf0001).collect()
    assert(f1.sameElements(f2))
    assert(f1.length === 500)
    f1.foreach { r =>
      assert(r.getAs[Int]("width") % 16 === 0)
      assert(Set("image", "audio", "video").contains(r.getAs[String]("kind")))
    }
  }

  test("approx sketches stay within error bounds of exact values") {
    // both the smoke SF and the driver's bench SF: sketch error bounds are
    // distribution-dependent, so the larger scale is the one that counts
    for (sf <- Seq(Sf0001, "/root/testdata/sf0.1")) {
      val rows = Relational.approxStatsAudit(spark, sf)
        .select("approx_customers", "exact_customers",
          "approx_median_price", "exact_median_price")
        .as[(Long, Long, Double, Double)].collect()
      assert(rows.nonEmpty)
      rows.foreach { case (approxN, exactN, approxMed, exactMed) =>
        assert(math.abs(approxN - exactN).toDouble / exactN < 0.05,
          s"HLL estimate $approxN vs exact $exactN exceeds 5% at $sf")
        assert(math.abs(approxMed - exactMed) / exactMed < 0.05,
          s"approx median $approxMed vs exact $exactMed exceeds 5% at $sf")
      }
    }
  }

  test("IVF recall vs brute force is controlled by nprobe, exact at full probe") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = topSets(Similarity.topkBruteforce(spark, Sf0001))
    def recall(nprobe: Int): Double = {
      val got = topSets(Similarity.ivfTopkProbe(spark, Sf0001, nprobe))
      val per = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      per.sum / per.size
    }
    val (r1, r3, rAll) = (recall(1), recall(3), recall(10)) // fixture has 10 labels
    // probing every list IS brute force — anything under 1.0 means the
    // probe join or ranking drops candidates, not an approximation artifact
    assert(rAll === 1.0)
    // the recall knob must actually turn
    assert(r1 < r3, s"recall not improved by wider probe: r1=$r1 r3=$r3")
    // the fixture's labels are cosine-UNcorrelated (measured: same-label
    // avg cosine == cross-label avg cosine ≈ 0), so label-IVF recall can
    // only track the scanned corpus fraction (~0.3 at nprobe=3/10) — the
    // floor documents that; the data-dependent recall path is
    // multiprobeTopk, pinned below with a real margin over random
    assert(r3 >= 0.3, s"recall@${Similarity.TopK} for nprobe=3 too low: $r3")
  }

  test("IVF over learned centroids: recall beats the scanned fraction, exact at full probe") {
    import graft.operators.Clustering
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = topSets(Similarity.topkBruteforce(spark, Sf0001))
    def recall(nprobe: Int): Double = {
      val got = topSets(Similarity.ivfKmeansTopkProbe(spark, Sf0001, nprobe))
      val per = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      per.sum / per.size
    }
    val (r1, r3, rAll) = (recall(1), recall(3), recall(Clustering.K))
    assert(rAll === 1.0) // probing every list IS brute force
    assert(r1 < r3, s"recall not improved by wider probe: r1=$r1 r3=$r3")
    // the 3 nearest of 8 near-balanced clusters scan ~0.375 of the corpus;
    // label-IVF recall sits AT that fraction (labels are cosine-noise —
    // see the spec above), while the trained quantizer concentrates true
    // neighbors in nearby cells (measured 0.60 on the fixture). Pin a
    // real margin over the scanned fraction, and pin fixing the floor:
    // learned-centroid recall must beat label recall at the same probe
    val scanned = {
      val sizes = Clustering.kmeans(spark, Sf0001).collect()
        .groupBy(_.getInt(1)).view.mapValues(_.length.toDouble).toMap
      // upper bound: 3 largest clusters / corpus — the most IVF could scan
      sizes.values.toSeq.sorted.takeRight(3).sum / sizes.values.sum
    }
    assert(r3 >= scanned + 0.1,
      s"learned-centroid IVF recall $r3 does not clear the scanned fraction $scanned")
    val labelR3 = {
      val got = topSets(Similarity.ivfTopkProbe(spark, Sf0001, 3))
      val per = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      per.sum / per.size
    }
    assert(r3 > labelR3,
      s"k-means lists ($r3) must beat the cosine-uncorrelated label lists ($labelR3)")
  }

  test("multi-probe LSH recall beats the scanned fraction and is exact at full radius") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = topSets(Similarity.topkBruteforce(spark, Sf0001))
    def recall(h: Int): Double = {
      val got = topSets(Similarity.multiprobeTopkRadius(spark, Sf0001, h))
      val per = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      per.sum / per.size
    }
    val (r0, r2, rAll) = (recall(0), recall(2), recall(Similarity.NumPlanes))
    // radius NumPlanes covers all 2^planes buckets — exactly brute force
    assert(rAll === 1.0)
    assert(r0 < r2, s"recall not improved by wider Hamming ball: r0=$r0 r2=$r2")
    // radius 2 probes 22/64 buckets (~0.34 of a uniform corpus) — recall
    // must clear that scanned fraction by a real margin, i.e. the sign
    // buckets concentrate neighbors better than random sampling
    // (measured 0.47 on the fixture)
    assert(r2 >= 0.4, s"recall@${Similarity.TopK} at radius 2 too low: $r2")
  }

  test("leakage split is stable under doc_id reassignment (content-hash, not id)") {
    val d = graft.core.Tables.load(spark, Sf0001, "documents").select("doc_id", "text")
    val base = Training.leakageSplitDf(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // a re-ingestion that reassigns every doc id must not move a single
    // doc across the split or change its leak count
    val shifted = Training.leakageSplitDf(
        d.withColumn("doc_id", col("doc_id") + 1000000L)).collect()
      .map(r => (r.getLong(0) - 1000000L) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(base.size === shifted.size)
    base.foreach { case (id, v) =>
      assert(shifted(id) === v, s"doc $id moved or changed leak count on reassignment")
    }
    // non-vacuous: both splits populated, guard fires, action path drops
    // exactly the flagged train docs
    val splits = base.values.map(_._1).toSet
    assert(splits === Set("train", "val"))
    assert(base.values.exists { case (s, n) => s == "train" && n > 0 })
    val dropped = Training.leakageApply(spark, Sf0001)
      .filter(col("final_split") === "dropped").count()
    assert(dropped === base.values.count { case (s, n) => s == "train" && n > 0 })
  }

  test("near-dup clusters: edges stay intra-cluster, labels are component minima") {
    val pairs = Dedup.minhashLsh(spark, Sf0001)
      .filter(col("est_sim") >= Dedup.ClusterMinSim)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val rows = Dedup.cluster(spark, Sf0001)
      .as[(Long, Long, Long, Long)].collect() // doc, cluster, canonical, n
    val labels = rows.map(r => r._1 -> r._2).toMap
    assert(labels.nonEmpty)
    // every pair's endpoints landed in the same cluster (transitive closure)
    pairs.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"edge ($a,$b) split across clusters")
    }
    val bySize = labels.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach { case (doc, cid, canonical, n) =>
      // each label is the minimum doc_id of its member set
      assert(cid === labels.collect { case (d, c) if c == cid => d }.min,
        s"cluster $cid labeled above its min member")
      // canonical is a member of the same cluster; counts cover all members
      assert(labels(canonical) === cid, s"canonical $canonical not a member of $cid")
      assert(n === bySize(cid), s"member count wrong for $cid")
      val _ = doc
    }
  }

  test("incremental dedup agrees with the full minhash pair set on cross-side pairs") {
    // the full pair enumeration, restricted to (incoming, corpus) pairs,
    // must reproduce incremental()'s keep/match decisions exactly
    def incomingSide(id: Long) = id % 10 >= 8
    val cross = Dedup.minhashLsh(spark, Sf0001)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, s) =>
        if (incomingSide(a) && !incomingSide(b)) Some((a, b, s))
        else if (incomingSide(b) && !incomingSide(a)) Some((b, a, s))
        else None
      }
    val byIncoming = cross.groupBy(_._1)
    val rows = Dedup.incremental(spark, Sf0001)
      .as[(Long, Boolean, Long, Double)].collect() // doc, keep, match_doc, match_sim
    assert(rows.nonEmpty)
    assert(rows.forall { case (d, _, _, _) => incomingSide(d) })
    rows.foreach { case (doc, keep, matchDoc, matchSim) =>
      byIncoming.get(doc) match {
        case None =>
          assert(keep && matchDoc == -1L && matchSim == 0.0,
            s"doc $doc has no corpus candidate but reported ($keep, $matchDoc, $matchSim)")
        case Some(cands) =>
          val bestSim = cands.map(_._3).max
          val bestDoc = cands.filter(_._3 == bestSim).map(_._2).min
          assert(matchSim === bestSim, s"doc $doc best sim $bestSim != $matchSim")
          assert(matchDoc === bestDoc, s"doc $doc best match $bestDoc != $matchDoc")
          assert(keep === (bestSim < Dedup.IncrDupSim), s"doc $doc keep flag wrong")
      }
    }
  }

  test("z-order key interleaves losslessly and shards are the curve's top bits") {
    val rows = Pipeline.zorderLayout(spark, Sf0001)
      .as[(Long, Long, Long, Long, Long)].collect() // doc, x, y, zval, shard
    assert(rows.nonEmpty)
    rows.foreach { case (doc, x, y, zval, shard) =>
      // decode the curve position back to its coordinates
      var (dx, dy) = (0L, 0L)
      for (i <- 0 until Pipeline.ZBits) {
        dx |= ((zval >> (2 * i)) & 1L) << i
        dy |= ((zval >> (2 * i + 1)) & 1L) << i
      }
      assert(dx === x && dy === y, s"doc $doc: zval $zval decodes to ($dx,$dy) not ($x,$y)")
      assert(shard === (zval >> (2 * Pipeline.ZBits - Pipeline.ZShardBits)),
        s"doc $doc: shard $shard is not the top bits of $zval")
    }
  }

  test("shuffle shards: reproducible per seed, contiguous per-shard positions, every doc placed") {
    val e0 = Pipeline.shuffleShards(spark, Sf0001, "epoch0")
      .as[(Long, String, Long, Long)].collect()
    val nDocs = spark.read.parquet(s"$Sf0001/documents.parquet").count()
    assert(e0.length.toLong === nDocs) // a shuffle must lose/duplicate nothing
    // same seed == identical epoch ordering; new seed == actually reshuffled
    val e0again = Pipeline.shuffleShards(spark, Sf0001, "epoch0")
      .as[(Long, String, Long, Long)].collect()
    assert(e0again.toSeq === e0.toSeq)
    val e1 = Pipeline.shuffleShards(spark, Sf0001, "epoch1")
      .as[(Long, String, Long, Long)].collect()
    assert(e1.map(r => r._1 -> r._4).toMap !== e0.map(r => r._1 -> r._4).toMap)
    // positions are exactly 1..count within each shard (resumability needs
    // a dense index, not a sparse one), and shards are in range
    e0.groupBy(_._3).foreach { case (shard, rows) =>
      assert(shard >= 0 && shard < Pipeline.NumShards)
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $shard positions not dense")
    }
    // the 60-bit hash spreads docs: no shard hoards the corpus
    assert(e0.groupBy(_._3).values.map(_.length).max < nDocs / 4)
  }

  test("mixture sample: binding source keeps all, rates follow weights, reproducible") {
    val kept = Pipeline.mixtureSample(spark, Sf0001)
      .as[(Long, String, Double)].collect()
    val perSource = spark.read.parquet(s"$Sf0001/documents.parquet")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val keptBySource = kept.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // rate == 1 for the binding (max weight per doc) source: it keeps all
    val rates = kept.map(r => r._2 -> r._3).toMap
    val binding = rates.maxBy(_._2)
    assert(binding._2 === 1.0, s"binding source should have rate 1.0: $binding")
    assert(keptBySource(binding._1) === perSource(binding._1))
    // nothing upsampled, and the sample is a strict mixture (some source
    // is actually thinned)
    keptBySource.foreach { case (s, k) => assert(k <= perSource(s)) }
    assert(kept.length < perSource.values.sum)
    // high-weight half outkeeps the low-weight half (binomial noise can
    // reorder neighbors but not the halves)
    val bySuffix = keptBySource.toSeq
      .map { case (s, k) => s.drop(3).toInt -> k }.sortBy(_._1).map(_._2)
    assert(bySuffix.takeRight(10).sum > bySuffix.take(10).sum)
    // deterministic: same corpus, same sample
    val again = Pipeline.mixtureSample(spark, Sf0001)
      .as[(Long, String, Double)].collect()
    assert(again.toSeq === kept.toSeq)
  }

  test("custom expressions register as SQL functions via SparkSessionExtensions") {
    import org.apache.spark.sql.SparkSession
    val prior = spark // keep the shared session handle
    // getOrCreate returns the existing session (ignoring withExtensions), so
    // clear the default/active slots to force a fresh session on the same
    // SparkContext with the extensions applied
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.core.GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        """SELECT float_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
          |                 array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d,
          |       rolling_hash('abc') AS h""".stripMargin).head()
      assert(r.getDouble(0) === 4.0)
      assert(r.getLong(1) === ((('a'.toInt * 31L + 'b'.toInt) % 1000000007L * 31 + 'c'.toInt) % 1000000007L))
      // the fused window kernel is SQL-reachable too, same result as the
      // HOF formulation on a two-window string
      val win = s2.sql(
        """SELECT anchored_window_hashes('a b c d e f g h i', 8, '0123456789abcdef') AS ws"""
      ).selectExpr("inline(ws)").collect().map(x => (x.getInt(0), x.getString(1)))
      assert(win.length === 2 && win.map(_._1).toSeq === Seq(0, 1))
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("salted aggregation equals direct aggregation on a hot-key distribution") {
    // 90% of rows share one key — the shape that melts a single reducer.
    // The frame keeps its row id: contentSalt's input contract requires a
    // distinguishing column alongside the key (a keys-only projection has
    // byte-identical hot rows, which all hash to ONE salt — the
    // degeneration the spread assertion below would catch).
    val skewed = spark.range(100000)
      .selectExpr("id",
        "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('k', id % 97) END AS k")
    val direct = skewed.groupBy("k").count()
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(skewed, col("k"), salts = 16)
      .as[(String, Long)].collect().toMap
    assert(salted === direct)
    assert(direct("hot") === 90000L)
    // the skew-mitigation contract itself: the hot key's 90k rows must
    // actually SPREAD over the salt space, not collapse to one reducer
    val hotSpread = skewed.filter(col("k") === "hot")
      .select(Skew.contentSalt(skewed, 16).as("salt"))
      .distinct().count()
    assert(hotSpread === 16L,
      s"hot key spread over $hotSpread of 16 salts — salting degenerated")
  }

  test("sessionization: session bounds respect the 30-min gap") {
    val s = Relational.sessionize(spark, Sf0001)
      .select("user_id", "session_seq", "start_ms", "end_ms", "n_events")
      .as[(Long, Long, Long, Long, Long)].collect()
    s.groupBy(_._1).foreach { case (_, sessions) =>
      val ordered = sessions.sortBy(_._2)
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        assert(b._3 - a._4 > Relational.SessionGapMs,
          s"sessions ${a._2} and ${b._2} closer than the gap")
      }
    }
    assert(s.map(_._5).sum === 1000L) // every event lands in exactly one session
  }

  test("session group window: sessions per cell are disjoint and gap-separated") {
    val s = TaxiQueries.q7Session(spark, Sf0001)
      .select("cell", "sess_start", "sess_end", "n_dept")
      .as[(Int, Long, Long, Long)].collect()
    s.foreach { case (_, start, end, n) =>
      assert(end - start >= TaxiQueries.SessionGapMs, "session spans at least the gap")
      assert(n >= 1)
    }
    s.groupBy(_._1).foreach { case (_, sessions) =>
      val ordered = sessions.sortBy(_._2)
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        assert(b._2 >= a._3, s"overlapping sessions: $a / $b") // end is last+gap, next starts at/after it
      }
    }
  }

  test("pack chunks: per-source offsets are contiguous and seq_offset bounded") {
    val rows = Training.packChunks(spark, Sf0001)
      .select("source", "n_toks", "tok_start", "seq_id", "seq_offset")
      .as[(String, Long, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val ordered = docs.sortBy(_._3)
      // each doc starts exactly where the previous one ended: no token of
      // the concatenated stream is lost or double-assigned
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        assert(b._3 === a._3 + a._2, s"gap in packing: $a -> $b")
      }
      assert(ordered.head._3 === 0L)
    }
    rows.foreach { case (_, _, tokStart, seqId, seqOff) =>
      assert(seqOff >= 0 && seqOff < Training.SeqLen)
      assert(seqId === tokStart / Training.SeqLen)
    }
  }

  test("quantize: int8 range respected and max-magnitude element hits ±127") {
    val rows = Training.quantize(spark, Sf0001)
      .select("vec_id", "maxabs", "q_min", "q_max")
      .as[(Long, Double, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, maxabs, qMin, qMax) =>
      assert(qMin >= -127 && qMax <= 127, "quantized values inside int8 range")
      if (maxabs > 0)
        assert(qMax == 127 || qMin == -127, "the max-|x| element must quantize to full scale")
    }
  }

  test("EngineSession facade: UTC, taxi UDFs, and injected SQL functions in one call") {
    import org.apache.spark.sql.SparkSession
    val prior = spark
    // getOrCreate reuses the shared spec session (ignoring extensions), so
    // clear the slots to get a fresh session on the same SparkContext —
    // same pattern as the extensions test above; never stop() it (that
    // would kill the shared context)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = graft.core.EngineSession.createWithTables(Sf0001, "local[2]", shufflePartitions = 2)
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      // reference-named UDFs usable from SQL (TaxiRideQueries.scala:39-43)
      assert(s.sql("SELECT toCellId(CAST(-73.99 AS FLOAT), CAST(40.75 AS FLOAT)) AS c")
        .head().getInt(0) === graft.functions.Taxi.toCellIdScalar(-73.99f, 40.75f))
      // custom codegen expressions injected via GraftExtensions
      assert(s.sql("SELECT float_dot(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d")
        .head().getDouble(0) === 2.0)
      // tables registered (the reference's registerTableSource step)
      assert(s.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("minhash affine permutations are bijections mod the Mersenne prime") {
    // slot p = (a_p * h + b_p) mod P is a permutation of Z_P iff a_p != 0
    // mod P; a zero multiplier would silently collapse a slot to a constant
    // and est_sim would stop tracking Jaccard. Guards the constants.
    val P = 2147483647L
    (0 until Dedup.NumPerms).foreach { p =>
      val a = ((p + 1) * 2654435761L) % P
      assert(a != 0L, s"affine multiplier for slot $p collapses the permutation")
    }
    // distinct slots must use distinct permutations (else 16 slots carry
    // fewer than 16 independent estimates)
    val pairs = (0 until Dedup.NumPerms)
      .map(p => (((p + 1) * 2654435761L) % P, ((p + 1) * 1013904223L) % P))
    assert(pairs.distinct.length === Dedup.NumPerms)
  }

  test("bounded levenshtein equals the classic DP within the band, -1 beyond") {
    def naive(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd"
    for (_ <- 1 to 500) {
      val a = Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(4))).mkString
      val b = Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(4))).mkString
      val band = rnd.nextInt(12)
      val expected = { val d = naive(a, b); if (d <= band) d else -1 }
      assert(Dedup.boundedLevenshtein(a, b, band) === expected, s"a=$a b=$b band=$band")
    }
  }

  test("contamination: only non-benchmark docs are flagged, against brute force") {
    val flagged = Training.contamination(spark, Sf0001)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged.forall(_ % 50 != 0), "benchmark docs must not flag themselves")
    // brute-force recompute on the tiny corpus
    import scala.jdk.CollectionConverters._
    val texts = graft.core.Tables.load(spark, Sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def sh(t: String): Set[String] =
      t.split(' ').sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val bench = texts.filter(_._1 % 50 == 0).flatMap(t => sh(t._2)).toSet
    val expected = texts.filter(_._1 % 50 != 0)
      .filter { case (_, t) => sh(t).exists(bench.contains) }.map(_._1).toSet
    assert(flagged === expected)
  }

  test("semantic dedup verdicts agree with the LSH pair relation") {
    val pairs = Similarity.lshNearDup(spark, Sf0001)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    val verdicts = Similarity.semanticDedup(spark, Sf0001)
      .select("vec_id", "keep", "match_id", "match_cos")
      .as[(Long, Boolean, Long, Double)].collect()
    // lshNearDup keeps pairs >= 0.3 < SemDupSim, so the dup relation is a subset
    val dupOf = pairs.filter(_._3 >= Similarity.SemDupSim)
      .groupBy(_._2).map { case (b, ps) => b -> ps.map(p => (p._3, p._1)).toSeq }
    for ((id, keep, m, c) <- verdicts) {
      dupOf.get(id) match {
        case None => assert(keep && m === -1L && c === 0.0, s"vec $id should be kept clean")
        case Some(ms) =>
          val (bestCos, bestId) = ms.maxBy { case (cos, mid) => (cos, -mid) }
          assert(!keep && m === bestId && c === bestCos,
            s"vec $id should be dropped with best match $bestId")
      }
    }
    assert(verdicts.count(!_._2) > 0, "threshold must actually drop something at sf0.001")
  }

  test("dataset diff recovers the exact added/removed/changed sets") {
    val ids = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("doc_id").as[Long].collect().toSet
    val v1 = ids.filter(_ % 17 != 3)
    val v2 = ids.filter(_ % 19 != 7)
    val expected =
      (v2 -- v1).map(_ -> "added") ++
        (v1 -- v2).map(_ -> "removed") ++
        (v1 & v2).filter(_ % 13 == 0).map(_ -> "changed")
    val got = Pipeline.datasetDiff(spark, Sf0001)
      .select("doc_id", "status").as[(Long, String)].collect().toSet
    assert(got === expected)
  }

  test("quality classifier: margin is the stated linear form and keep is its sign") {
    val rows = Pipeline.qualityClassify(spark, Sf0001)
      .select("f_len", "f_stop", "f_ttr", "f_digit", "margin", "keep")
      .as[(Double, Double, Double, Double, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    for ((fl, fs, ft, fd, m, keep) <- rows) {
      assert(fl >= 0 && fl <= 1 && fs >= 0 && fs <= 1 && ft >= 0 && ft <= 1 && fd >= 0 && fd <= 1)
      assert(m === -2.1 + 2.0 * fl + 3.0 * fs + 1.5 * ft - 4.0 * fd)
      assert(keep === (m >= 0.0))
    }
    // frozen weights on this corpus must separate, not rubber-stamp
    assert(rows.exists(_._6) && rows.exists(!_._6), "classifier should split the corpus")
  }

  test("vocab build: dense ranks, non-increasing tf, monotone coverage ending <= 1") {
    val rows = TextAnalysis.vocabBuild(spark, Sf0001)
      .select("rank", "token", "tf", "df", "coverage")
      .as[(Long, String, Long, Long, Double)].collect()
    val nDocs = spark.read.parquet(s"$Sf0001/documents.parquet").count()
    assert(rows.length === TextAnalysis.VocabSize, "corpus vocab must exceed VocabSize for a real truncation")
    assert(rows.map(_._1).toSeq === (1L to rows.length).toSeq)
    assert(rows.sliding(2).forall { case Array(a, b) => a._3 >= b._3 }, "tf non-increasing")
    assert(rows.sliding(2).forall { case Array(a, b) => a._5 < b._5 }, "coverage strictly increasing")
    assert(rows.last._5 > 0 && rows.last._5 <= 1.0)
    assert(rows.forall { case (_, _, tf, df, _) => df <= tf && df <= nDocs && df >= 1 })
  }

  test("kmeans matches an independent scala Lloyd reference (exact integer arithmetic)") {
    import graft.operators.Clustering.{K, Iters, Scale}
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val vecs = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, e) => id -> e.map(x => math.floor(x.toDouble * Scale).toLong) }
      .sortBy(_._1)
    // seeds: K smallest by (md5(id), id)
    var cents: Seq[Array[Long]] = vecs.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(K).map(_._2).toSeq
    def assign(q: Array[Long]): (Int, Long) =
      cents.zipWithIndex.map { case (c, cid) =>
        (q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min match { case (d, cid) => (cid, d) }
    for (_ <- 1 until Iters) {
      val byCluster = vecs.groupBy { case (_, q) => assign(q)._1 }
      cents = cents.zipWithIndex.map { case (old, cid) =>
        byCluster.get(cid).fold(old) { members =>
          val n = members.length
          Array.tabulate(old.length)(i =>
            math.floor(members.map(_._2(i)).sum.toDouble / n).toLong)
        }
      }
    }
    val expected = vecs.map { case (id, q) =>
      val (cid, d) = assign(q); (id, cid, d)
    }.toSeq
    val got = graft.operators.Clustering.kmeans(spark, Sf0001)
      .as[(Long, Int, Long)].collect().toSeq
    assert(got === expected)
    assert(got.map(_._2).distinct.length > 1, "clustering should use more than one cluster")
  }

  test("bloom-prefiltered contamination: identical answer, bloom probe in the scan stage") {
    import org.apache.spark.sql.SparkSession
    // the shared test session has no GraftExtensions (bloom_agg /
    // bloom_contains are injected, not builtin) — force a fresh session
    // on the same SparkContext with the extensions applied
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.core.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val exact = graft.operators.Training.contamination(s2, Sf0001)
        .as[(Long, Long, Long)].collect().toSeq
      val bloom = graft.operators.Training.contaminationBloom(s2, Sf0001)
      val got = bloom.as[(Long, Long, Long)].collect().toSeq
      assert(got === exact)
      assert(exact.nonEmpty, "fixture should contain contaminated docs")
      val plan = bloom.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_contains") || plan.contains("might_contain"),
        s"bloom probe missing from plan:\n${plan.take(1000)}")
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("dim stats: every dimension covered, counts total, brute-force agreement") {
    import graft.operators.Clustering.Scale
    val vecs = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .select("embedding").as[Array[Float]].collect()
      .map(_.map(x => math.floor(x.toDouble * Scale).toLong))
    val got = graft.operators.Clustering.dimStats(spark, Sf0001)
      .as[(Int, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq === (0 until 64))
    got.foreach { case (dim, n, mn, mx, mean, nz) =>
      val col = vecs.map(_(dim))
      assert(n === vecs.length.toLong)
      assert(mn === col.min && mx === col.max)
      assert(mean === math.floor(col.sum.toDouble / col.length).toLong)
      assert(nz === col.count(_ === 0L).toLong)
    }
  }

  test("kmeans fit/apply: assignment against the persisted model equals the fit-time output") {
    import graft.operators.Clustering
    val s2 = spark.newSession()
    Clustering.persistCentroids(s2, Sf0001, "kmeans_model_t")
    try {
      assert(s2.table("kmeans_model_t").count() === Clustering.K.toLong)
      val applied = Clustering.kmeansAgainst(s2, Sf0001, "kmeans_model_t").collect()
      val fitted = Clustering.kmeans(s2, Sf0001).collect()
      assert(applied.toSeq === fitted.toSeq)
      // apply is map-only: no Exchange except the output sort
      val plan = Clustering.kmeansAgainst(s2, Sf0001, "kmeans_model_t")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin") && !plan.contains("HashJoin"),
        s"apply must not join:\n${plan.take(800)}")
    } finally {
      s2.sql("DROP TABLE IF EXISTS kmeans_model_t"); ()
    }
  }

  test("funnel: chained conditional minima match a per-user scan of the raw events") {
    val ev = graft.core.Tables.load(spark, Sf0001, "events")
      .selectExpr("user_id", "unix_millis(ts) AS ts_ms", "event_type")
      .as[(Long, Long, String)].collect()
    val expected = ev.groupBy(_._1).flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(_._2)
      val gap = graft.operators.Relational.FunnelStepGapMs
      val t1 = sorted.collectFirst { case (_, t, "view") => t }
      t1.map { v =>
        val t2 = sorted.collectFirst { case (_, t, "click") if t > v && t <= v + gap => t }
        val t3 = t2.flatMap(c =>
          sorted.collectFirst { case (_, t, "purchase") if t > c && t <= c + gap => t })
        (uid, v, t2, t3, if (t3.isDefined) 3 else if (t2.isDefined) 2 else 1)
      }
    }.toSeq.sortBy(_._1)
    val got = graft.operators.Relational.funnel(spark, Sf0001)
      .as[(Long, Long, Option[Long], Option[Long], Int)].collect().toSeq
    assert(got === expected)
    assert(got.exists(_._5 === 3) && got.exists(_._5 < 3), "fixture should split funnel depths")
  }

  test("scd2 + temporal join: versions partition time per user; as-of matches a per-fact scan") {
    val events = graft.core.Tables.load(spark, Sf0001, "events")
    val dim = graft.operators.Relational.scd2Versions(events)
      .as[(Long, String, Long, Long, Int)].collect().toSeq
    // SCD2 invariants: per user, version_no dense from 1, valid_from
    // strictly increasing, intervals contiguous ([to) of v_n == [from) of
    // v_n+1), exactly one open tail
    dim.groupBy(_._1).foreach { case (uid, vs) =>
      val s = vs.sortBy(_._5)
      assert(s.map(_._5) === (1 to s.length), s"user $uid: version_no not dense")
      s.sliding(2).foreach {
        case Seq((_, _, f1, t1, _), (_, _, f2, _, _)) =>
          assert(f1 < f2, s"user $uid: valid_from not strictly increasing")
          assert(t1 === f2, s"user $uid: intervals not contiguous")
        case _ => ()
      }
      assert(s.count(_._4 === graft.operators.Relational.Scd2OpenUs) === 1,
        s"user $uid: open-tail count wrong")
    }
    // temporal join vs brute force: for each purchase, the version whose
    // interval contains its timestamp (scanning all of the user's versions)
    val facts = events.filter("event_type = 'purchase'")
      .selectExpr("event_id", "user_id", "unix_micros(ts) AS ts_us", "value")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val byUser = dim.groupBy(_._1)
    val expected = facts.flatMap { case (eid, uid, ts, v) =>
      byUser.getOrElse(uid, Seq.empty)
        .find { case (_, _, f, t, _) => f <= ts && ts < t }
        .map { case (_, seg, _, _, ver) => (eid, uid, seg, ver, ts, v) }
    }.sortBy(_._1)
    val got = graft.operators.Relational.temporalJoin(spark, Sf0001)
      .as[(Long, Long, String, Int, Long, Double)].collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.size < facts.size,
      "fixture should exercise both matched and before-first-version facts")
  }

  test("as-of join: the equi-join and sort-merge forms return identical rows") {
    val a = graft.operators.Relational.temporalJoin(spark, Sf0001)
      .as[(Long, Long, String, Int, Long, Double)].collect().toSeq
    val b = graft.operators.Relational.temporalJoinSorted(spark, Sf0001)
      .as[(Long, Long, String, Int, Long, Double)].collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("quality drift: full chunk x reference-bin grid, exact totals, integer verdicts") {
    import graft.operators.Pipeline
    val rows = Pipeline.qualityDrift(spark, Sf0001)
      .as[(Int, Int, Long, Long, Long, Long, Boolean)].collect().toSeq
    val chunks = rows.map(_._1).distinct.sorted
    val bins = rows.map(_._2).distinct.sorted
    assert(chunks === (0 until Pipeline.DriftChunks), "every chunk must report")
    assert(rows.size === chunks.size * bins.size,
      "every (chunk, reference bin) cell must emit — a vanished bin is drift too")
    val corpusTotal = rows.head._6
    assert(rows.map(_._3).sum === corpusTotal, "observed counts must cover the corpus")
    rows.groupBy(_._1).foreach { case (c, rs) =>
      assert(rs.map(_._3).sum === rs.head._4, s"chunk $c: chunk_total mismatch")
    }
    bins.foreach { b =>
      val rs = rows.filter(_._2 === b)
      assert(rs.map(_._3).sum === rs.head._5, s"bin $b: corpus_cnt mismatch")
    }
    rows.foreach { case (c, b, obs, ct, cc, tot, drifted) =>
      val expect = (obs * tot - cc * ct).abs * Pipeline.DriftTolInv > cc * ct
      assert(drifted === expect, s"($c,$b): verdict must be the integer cross-multiply")
    }
  }

  test("gapfill: dense grid covers the full range, zero rows where no events") {
    val rows = graft.operators.Relational.gapfill(spark, Sf0001)
      .as[(String, Long, Long)].collect()
    val types = rows.map(_._1).distinct
    val (h0, h1) = (rows.map(_._2).min, rows.map(_._2).max)
    // every (type, hour) cell present exactly once
    assert(rows.length === types.length * (h1 - h0 + 1))
    assert(rows.groupBy(r => (r._1, r._2)).values.forall(_.length === 1))
    // zero-filled cells must exist (sparse fixture) and totals must match
    assert(rows.exists(_._3 === 0L), "no gaps filled — vacuous fixture")
    val nEvents = graft.core.Tables.load(spark, Sf0001, "events").count()
    assert(rows.map(_._3).sum === nEvents)
  }

  test("retention: weekly cohort triangle matches a brute-force user scan") {
    val weekMs = 7L * 86400000L
    val ev = graft.core.Tables.load(spark, Sf0001, "events")
      .selectExpr("user_id", "unix_millis(ts) AS ts_ms")
      .as[(Long, Long)].collect()
    val firstWk = ev.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(_._2 / weekMs).min
    }
    val expected = ev.map { case (u, t) => (firstWk(u), t / weekMs - firstWk(u), u) }
      .distinct.groupBy(p => (p._1, p._2)).map { case ((c, o), us) => (c, o, us.length.toLong) }
      .toSeq.sortBy(p => (p._1, p._2))
    val got = graft.operators.Relational.retention(spark, Sf0001)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === expected)
    // a retention triangle needs both a week-0 row and some later-week row
    assert(got.exists(_._2 === 0) && got.exists(_._2 > 0))
  }

  test("source caps: per-source keepers are the hash-min set, cap enforced where it bites") {
    val sf = "/root/testdata/sf0.01" // sf0.001 sources are under the cap — vacuous there
    def h48(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString, 16)
    val docsRows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").as[(Long, String)].collect()
    val expectedKeep = docsRows.groupBy(_._2).values.flatMap { ds =>
      ds.map(_._1).sortBy(id => (h48(id), id)).take(graft.operators.Pipeline.SourceCap)
    }.toSet
    val got = graft.operators.Pipeline.sourceCaps(spark, sf)
      .as[(Long, String, Boolean)].collect()
    assert(got.filter(_._3).map(_._1).toSet === expectedKeep)
    // the cap must actually truncate some source at this SF
    assert(docsRows.groupBy(_._2).values.exists(_.length > graft.operators.Pipeline.SourceCap))
    assert(got.count(_._3) < got.length)
  }

  test("normalized dedup: case/whitespace variants collapse, canonical is min id") {
    val byId = TextAnalysis.normalizedDedup(spark, Sf0001)
      .as[(Long, String, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    // the three probe variants share a group of 3; min id is canonical
    val g = Seq(9200001L, 9200002L, 9200003L).map(byId)
    assert(g.map(_._2).distinct.length === 1, "variants must share the normal form")
    assert(g.forall(_._3 === 3L))
    assert(byId(9200001L)._4 && !byId(9200002L)._4 && !byId(9200003L)._4)
    // a genuinely different text stays alone
    assert(byId(9200004L)._3 === 1L && byId(9200004L)._4)
    assert(byId(9200004L)._2 !== byId(9200001L)._2)
    // every group: exactly one canonical
    val groups = byId.values.groupBy(_._2)
    assert(groups.values.forall(rs => rs.count(_._4) === 1))
  }

  test("oov rate: per-doc rates match a brute-force vocab membership count") {
    val docsRows = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val tokens = docsRows.flatMap { case (id, t) => t.split(" ", -1).map(id -> _) }
    val vocab = tokens.groupBy(_._2).view.mapValues(_.length).toSeq
      .sortBy { case (tok, tf) => (-tf, tok) }
      .take(TextAnalysis.VocabSize).map(_._1).toSet
    val expected = tokens.groupBy(_._1).map { case (id, ts) =>
      val oov = ts.count(t => !vocab.contains(t._2))
      (id, ts.length.toLong, oov.toLong, oov.toDouble / ts.length)
    }.toSeq.sortBy(_._1)
    val got = TextAnalysis.oovRate(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === expected)
    assert(got.exists(_._4 > 0), "some doc should contain OOV tokens")
  }

  test("substring scrub: duplicated spans cut, untouched docs byte-identical") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val scrub = Dedup.substringScrub(spark, Sf0001)
      .select("doc_id", "n_tokens", "n_kept", "n_dropped", "clean_md5")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // exact-copy probes: anchored windows cover tokens 0..19 (anchors
    // {0,7,8,9,11,12} each spanning 8), so exactly tokens 21..24 survive
    val tail = (21 to 24).map(i => f"probetok$i%02d").mkString(" ")
    for (id <- Seq(9100001L, 9100002L)) {
      val (_, n, k, d, h) = scrub(id)
      assert(n === 24 && k === 4 && d === 20 && h === md5hex(tail), s"doc $id")
    }
    // sub-window probe: nothing to anchor, text passes through unchanged
    val (_, n5, k5, d5, h5) = scrub(9100005L)
    assert(n5 === 5 && k5 === 5 && d5 === 0 && h5 === md5hex("tiny doc five tokens only"))
    // invariants vs the detector: a doc loses tokens iff it has duplicated windows
    val flags = Dedup.substring(spark, Sf0001)
      .select("doc_id", "n_dup_windows").as[(Long, Long)].collect().toMap
    assert(scrub.values.forall { case (id, n, k, d, _) =>
      k + d === n && (d > 0) === (flags(id) > 0)
    })
    // untouched docs keep byte-identical text
    val texts = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(scrub.collect { case (id, (_, _, _, d, h)) if d === 0L && texts.contains(id) =>
      h === md5hex(texts(id))
    }.forall(identity))
  }

  test("fused window kernel is bit-identical to the higher-order-function formulation") {
    import graft.operators.Dedup.{SubstrWindow => w, SubstrAnchorHex}
    val anchorIn = SubstrAnchorHex.map(h => s"'$h'").mkString(", ")
    // real corpus texts + adversarial shapes: empties, repeated spaces
    // (empty tokens), exactly-window-length, sub-window
    val texts = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("text").as[String].collect().take(50).toSeq ++ Seq(
      "", " ", "a  b   c", ("tok " * w).trim, ("tok " * (w - 1)).trim,
      (1 to 3 * w).map(i => s"t$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val hof = df.selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        s"""CASE WHEN size(toks) >= $w
           |  THEN transform(
           |    filter(sequence(0, size(toks) - $w),
           |           i -> substr(md5(toks[i]), 1, 1) IN ($anchorIn)),
           |    i -> named_struct('i', i, 'whash', md5(array_join(slice(toks, i + 1, $w), ' '))))
           |  ELSE array() END AS ws""".stripMargin)
      .selectExpr("doc_id", "inline(ws)")
      .as[(Long, Int, String)].collect().toSeq.sorted
    val fused = graft.operators.Dedup.windowOccurrencesOf(df)
      .as[(Long, Int, String)].collect().toSeq.sorted
    assert(fused === hof)
    assert(fused.nonEmpty)
  }

  test("substring dedup: probe docs pin exact-copy, offset-run, and sub-window cases") {
    val byId = Dedup.substring(spark, Sf0001)
      .select("doc_id", "n_windows", "n_dup_windows", "dup_ratio", "flag_dup")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // exact copies: every window duplicated on both docs
    for (id <- Seq(9100001L, 9100002L)) {
      val (_, n, d, ratio, flag) = byId(id)
      assert(n > 0 && d === n && ratio === 1.0 && flag, s"doc $id should be fully duplicated")
    }
    // 16-token shared prefix at aligned offsets: partially duplicated
    val (_, n3, d3, r3, _) = byId(9100003L)
    assert(d3 > 0 && d3 < n3 && r3 > 0 && r3 < 1.0, "partial overlap must be partial")
    // 16-token run at a non-stride-aligned offset: still detected
    // (W + S - 1 = 11 <= 16 guarantees an aligned window inside the run)
    assert(byId(9100004L)._3 > 0, "offset run must still collide")
    // shorter than one window: zero windows, ratio 0, not flagged
    val (_, n5, _, r5, f5) = byId(9100005L)
    assert(n5 === 0 && r5 === 0.0 && !f5)
    // real corpus docs share phrase runs too (small generator vocabulary):
    // the operator must fire on them, and the flag must be exactly ratio>=0.5
    assert(byId.exists { case (id, r) => id < 9100000L && r._3 > 0 },
      "corpus should contribute real duplicated windows at sf0.001")
    assert(byId.values.forall { case (_, n, d, ratio, flag) =>
      flag === (ratio >= 0.5) && d <= n
    })
  }

  test("overlap chunker invariants: contiguous ids, full coverage, exact stride overlap") {
    import graft.operators.Training.{ChunkLen, ChunkStride}
    import spark.implicits._
    val docLens = spark.read.parquet(s"$Sf0001/documents.parquet")
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n")
      .as[(Long, Long)].collect().toMap
    val chunks = graft.operators.Training.chunkOverlap(spark, Sf0001)
      .select("doc_id", "chunk_id", "tok_start", "n_chunk_toks")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(chunks.keySet === docLens.keySet, "every doc must chunk")
    // both branches must actually fire on the fixture (a vacuous
    // 1-chunk-per-doc green would leave the stride arithmetic untested)
    assert(chunks.values.exists(_.length > 1) && chunks.values.exists(_.length == 1))
    chunks.foreach { case (id, cs) =>
      val n = docLens(id)
      assert(cs.map(_._2).toSeq === cs.indices.map(_.toLong), s"doc $id ids not contiguous")
      assert(cs.head._3 === 0L, s"doc $id first chunk must start at 0")
      assert(cs.last._3 + cs.last._4 === n, s"doc $id chunks must cover through the last token")
      cs.foreach { case (_, i, start, len) =>
        assert(start === i * ChunkStride && len <= ChunkLen && len > 0)
      }
      // only the last chunk may be short; consecutive chunks overlap by
      // exactly ChunkLen - ChunkStride
      cs.init.foreach { case (_, _, _, len) => assert(len === ChunkLen.toLong) }
      cs.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 - b._3 === (ChunkLen - ChunkStride).toLong)
        case _ => ()
      }
    }
  }

  test("BPE learning: ranks dense, counts non-increasing, merge chaining fires") {
    val m = TextAnalysis.bpeLearn(spark, Sf0001)
      .as[(Long, String, String, Long)].collect()
    assert(m.length === TextAnalysis.BpeMerges)
    assert(m.map(_._1).toSeq === (1L to TextAnalysis.BpeMerges).toSeq)
    // a merged symbol's new pairs can never outnumber the pair just
    // merged, and surviving pairs only lose occurrences — so the learned
    // counts are monotone non-increasing (a broken apply step breaks this)
    m.sliding(2).foreach {
      case Array(a, b) => assert(a._4 >= b._4,
        s"pair count increased: rank ${a._1}=${a._4} -> rank ${b._1}=${b._4}")
      case _ => ()
    }
    assert(m.forall(_._4 > 0))
    // chaining: at least one merge consumes a previously-learned symbol
    // (multi-char side) — proves merges apply to segmentations, not just
    // raw characters (fires on the fixture: rank 8 is p+ar)
    assert(m.exists(x => x._2.length > 1 || x._3.length > 1),
      s"no multi-char merge in ${m.mkString(";")}")
  }

  test("BPE apply: per-doc token counts bounded by words and chars, and merges compress") {
    val a = TextAnalysis.bpeApply(spark, Sf0001)
      .as[(Long, Long, Long, Long)].collect()
    assert(a.nonEmpty)
    a.foreach { case (id, nWords, nChars, nBpe) =>
      // every word is >= 1 symbol and <= its character count
      assert(nBpe >= nWords && nBpe <= nChars,
        s"doc $id: n_bpe=$nBpe outside [$nWords, $nChars]")
    }
    // learned merges must actually fire corpus-wide: strictly fewer BPE
    // tokens than characters
    assert(a.map(_._4).sum < a.map(_._3).sum)
  }

  test("BPE fit/apply: indexed apply equals inline apply with zero learning rounds") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val s2 = spark.newSession()
    TextAnalysis.persistBpeModel(s2, Sf0001, "bpe_model_t")
    try {
      assert(s2.table("bpe_model_t").count() === TextAnalysis.BpeMerges.toLong)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(listener)
      val (applied, jobsBeforeAction) = try {
        // re-persist must be a no-op (graft.src is current), and building
        // the apply plan pulls ONLY the 8-row model — never the
        // 1 + BpeMerges jobs the inline learning path pays
        TextAnalysis.persistBpeModel(s2, Sf0001, "bpe_model_t")
        val df = TextAnalysis.bpeApplyAgainst(s2, Sf0001, "bpe_model_t")
        // deterministic drain: waitUntilEmpty blocks until every queued
        // event is delivered (a fixed sleep could undercount on a slow bus)
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext, 30000)
        val n = jobs.get() // snapshot BEFORE the action runs its own jobs
        (df.collect(), n)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobsBeforeAction <= 2,
        s"apply-after-persist ran $jobsBeforeAction jobs before any action — learning leaked in")
      val inline = TextAnalysis.bpeApply(s2, Sf0001).collect()
      assert(applied.toSeq === inline.toSeq)
    } finally { s2.sql("DROP TABLE IF EXISTS bpe_model_t"); () }
  }

  test("BPE batched learning: merge list equals sequential, in fewer rounds") {
    val seqMerges = TextAnalysis.bpeLearn(spark, Sf0001)
      .as[(Long, String, String, Long)].collect().toSeq
    val (batched, rounds) = TextAnalysis.bpeLearnBatchedRounds(spark, Sf0001)
    assert(batched.as[(Long, String, String, Long)].collect().toSeq === seqMerges)
    assert(rounds < TextAnalysis.BpeMerges,
      s"batching was vacuous: $rounds rounds for ${TextAnalysis.BpeMerges} merges")
  }

  test("trained NB classifier beats the majority-class prior on the fixture") {
    import org.apache.spark.sql.functions._
    val out = Pipeline.nbClassify(spark, Sf0001).cache()
    try {
      val n = out.count().toDouble
      val acc = out.filter(col("hit")).count() / n
      val prior = out.groupBy("lang").count()
        .agg(max("count")).head().getLong(0) / n
      // the fixture langs share one vocabulary and differ only in token
      // frequencies (measured: acc 0.438 vs prior 0.386 at this SF) — the
      // learned frequency signal must still beat always-guess-majority,
      // else training learned nothing
      assert(acc > prior, f"NB accuracy $acc%.3f <= majority prior $prior%.3f")
      // every document is scored and predicted exactly once
      assert(n === out.select("doc_id").distinct().count().toDouble)
    } finally { out.unpersist(); () }
  }

  test("DSIR selection enriches the target domain over the corpus base rate") {
    import org.apache.spark.sql.functions._
    val sel = Pipeline.dsirSample(spark, Sf0001)
    val langs = graft.core.Tables.load(spark, Sf0001, "documents").select("doc_id", "lang")
    val picked = sel.join(langs, "doc_id").cache()
    try {
      // exactly the budget, ranked 1..K, each doc once
      assert(sel.count() === Pipeline.DsirBudget.toLong)
      assert(sel.select("doc_id").distinct().count() === Pipeline.DsirBudget.toLong)
      assert(sel.agg(min("rank"), max("rank")).head() ===
        org.apache.spark.sql.Row(1L, Pipeline.DsirBudget.toLong))
      val selFrac = picked.filter(col("lang") === Pipeline.DsirTarget).count().toDouble /
        Pipeline.DsirBudget
      val baseFrac = langs.filter(col("lang") === Pipeline.DsirTarget).count().toDouble /
        langs.count()
      // the fixture langs share one vocabulary and differ only in token
      // frequencies, so enrichment is moderate, not total — but the
      // importance weights must still pull the selection toward the
      // target (sf0.01 measured: 62% selected vs 43.6% base)
      assert(selFrac > baseFrac,
        f"target fraction $selFrac%.3f did not beat base rate $baseFrac%.3f")
      // fit/apply: re-call against the current model is a metadata probe
      Pipeline.persistDsirModel(spark, Sf0001)
      assert(graft.core.ModelTables.isCurrent(spark, Pipeline.DsirModelTable,
        Sf0001, "dsir.v1;target=en;lscale=1e6;laplace=1"))
    } finally { picked.unpersist(); () }
  }

  test("IVF-kmeans fit/apply: search against persisted centroids equals inline fit, zero fit jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.operators.Clustering
    val s2 = spark.newSession()
    Clustering.persistCentroids(s2, Sf0001, "ivfkm_model_t")
    try {
      assert(s2.table("ivfkm_model_t").count() === Clustering.K.toLong)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(listener)
      val (applied, jobsBeforeAction) = try {
        // re-persist must be a metadata no-op (graft.src current), and
        // building the apply plan pulls ONLY the K-row model — never the
        // seed + update jobs the iterative Lloyd fit pays
        Clustering.persistCentroids(s2, Sf0001, "ivfkm_model_t")
        val df = Similarity.ivfKmeansTopkAgainst(s2, Sf0001, "ivfkm_model_t")
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext, 30000)
        val n = jobs.get() // snapshot BEFORE the action runs its own jobs
        (df.collect(), n)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobsBeforeAction <= 2,
        s"apply-after-persist ran $jobsBeforeAction jobs before any action — the fit leaked in")
      val inline = Similarity.ivfKmeansTopkInline(s2, Sf0001, Similarity.NProbe).collect()
      assert(applied.toSeq === inline.toSeq)
    } finally { s2.sql("DROP TABLE IF EXISTS ivfkm_model_t"); () }
  }

  test("IVF-kmeans serve over a fresh full-corpus index equals the search against its model") {
    // stored list ids (the index) and inline assignment (the corpus dir)
    // under one model must probe, score and rank identically
    val (table, model) = ("ivfkm_serve_t", "ivfkm_serve_model_t")
    dropTables(table, model)
    try {
      Similarity.buildKmeansIvf(spark,
        graft.core.Tables.load(spark, Sf0001, "embeddings").select("vec_id", "embedding"),
        table, model)
      val served = Similarity.ivfKmeansServe(spark, table, model).collect()
      val searched = Similarity.ivfKmeansTopkAgainst(spark, Sf0001, model).collect()
      assert(served.nonEmpty)
      assert(served.toSeq === searched.toSeq)
    } finally dropTables(table, model)
  }

  test("NB fit/apply: classify against the persisted model equals inline training; re-persist is free") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val s2 = spark.newSession()
    Pipeline.persistNbModel(s2, Sf0001, "nb_model_t", "nb_base_t")
    try {
      assert(s2.table("nb_base_t").count() > 0)
      assert(s2.table("nb_model_t").count() > 0)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // both tables current -> both persist calls are metadata probes
        Pipeline.persistNbModel(s2, Sf0001, "nb_model_t", "nb_base_t")
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext, 30000)
        assert(jobs.get() <= 1,
          s"re-persist of a current NB model ran ${jobs.get()} jobs — training leaked in")
      } finally spark.sparkContext.removeSparkListener(listener)
      val applied = Pipeline.nbClassifyAgainst(s2, Sf0001, "nb_model_t", "nb_base_t").collect()
      val inline = Pipeline.nbClassifyInline(s2, Sf0001).collect()
      assert(applied.toSeq === inline.toSeq)
      // the apply plan scores from the STORED weight table, not a
      // training subtree: no aggregate over (token, cls) counts appears
      val plan = Pipeline.nbClassifyAgainst(s2, Sf0001, "nb_model_t", "nb_base_t")
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("nb_model_t"), s"apply plan does not read the model table:\n${plan.take(800)}")
    } finally {
      s2.sql("DROP TABLE IF EXISTS nb_model_t")
      s2.sql("DROP TABLE IF EXISTS nb_base_t"); ()
    }
  }

  test("LM fit/apply: perplexity against the persisted model equals inline; re-persist is free") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val s2 = spark.newSession()
    val tables = Seq("lm_vocab_t", "lm_model_t", "lm_ctx_t")
    TextAnalysis.persistLmModel(s2, Sf0001, "lm_vocab_t", "lm_model_t", "lm_ctx_t")
    try {
      tables.foreach(t => assert(s2.table(t).count() > 0, s"$t is empty"))
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        TextAnalysis.persistLmModel(s2, Sf0001, "lm_vocab_t", "lm_model_t", "lm_ctx_t")
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext, 30000)
        assert(jobs.get() <= 1,
          s"re-persist of a current LM ran ${jobs.get()} jobs — training leaked in")
      } finally spark.sparkContext.removeSparkListener(listener)
      val applied = TextAnalysis
        .perplexityAgainst(s2, Sf0001, "lm_vocab_t", "lm_model_t", "lm_ctx_t").collect()
      val inline = TextAnalysis.perplexityInline(s2, Sf0001).collect()
      assert(applied.toSeq === inline.toSeq)
      // the vocab cap really bites: the training slice has OOV of its own
      // vocab, so the model must contain <unk> transitions (the smoothing
      // path is exercised, not dead)
      val unkRows = s2.table("lm_model_t")
        .filter("l = '<unk>' OR r = '<unk>'").count()
      assert(unkRows > 0, "vocab cap never produced an <unk> bigram — UNK path is dead")
    } finally { tables.foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t")); () }
  }

  test("LM vocab-scale mapping: broadcast-join path is bit-for-bit equal to the CASE literal") {
    val d = graft.core.Tables.load(spark, Sf0001, "documents")
      .select("doc_id", "source", "text")
    val vocab = spark.read.parquet(s"$Sf0001/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS token")
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(TextAnalysis.LmVocabSize)
      .collect().map(_.getString(0)).toSeq
    // the join path must reproduce the literal path's mapped token arrays
    // exactly — same docs, same order within each doc, same BOS, same
    // <unk> decisions — so the downstream bigram/count/score pipeline is
    // path-independent by construction
    val viaCase = TextAnalysis.lmMapped(d, vocab)
      .orderBy("doc_id").collect()
    val viaJoin = TextAnalysis.lmMapped(d, vocab, forceJoin = true)
      .orderBy("doc_id").collect()
    assert(viaJoin.toSeq === viaCase.toSeq)
    // and the dispatch defaults: literal at the gated V=20, join above
    // the threshold (the constant is a plan-shape decision, not semantics)
    assert(vocab.length <= TextAnalysis.LmVocabJoinThreshold)
    // the bigram tables (the model's input) agree too
    val biCase = TextAnalysis.lmBigramsFrom(TextAnalysis.lmMapped(d, vocab))
      .groupBy("l", "r").agg(count(lit(1)).as("cnt")).orderBy("l", "r").collect()
    val biJoin = TextAnalysis.lmBigramsFrom(TextAnalysis.lmMapped(d, vocab, forceJoin = true))
      .groupBy("l", "r").agg(count(lit(1)).as("cnt")).orderBy("l", "r").collect()
    assert(biJoin.toSeq === biCase.toSeq)
  }

  test("LM fit is incremental: raw-partial fold over arbitrary doc splits equals the batch fit") {
    val train = graft.core.Tables.load(spark, Sf0001, "documents")
      .filter(col("source") === TextAnalysis.LmTrainSource)
    // three disjoint "micro-batches" by doc id — any partition of the
    // docs must fold to the same model (the gate proves one chunking
    // against the oracle; this pins the associativity claim itself)
    val parts = (0 to 2).map(k => train.filter(col("doc_id") % 3 === k))
    val bi = parts.map(TextAnalysis.lmRawBigramCounts).reduce(_ unionByName _)
    val toks = parts.map(TextAnalysis.lmRawTokenCounts).reduce(_ unionByName _)
    val folded = TextAnalysis.lmModelFromRaw(bi, toks)
      .orderBy("l", "r").collect()
    val batch = TextAnalysis.lmTrain(spark, Sf0001).collect()
    assert(folded.toSeq === batch.toSeq)
  }

  test("bounded percolation: threshold keeps a strict, per-query-nonempty subset of raw emission") {
    import spark.implicits._
    val s2 = spark.newSession()
    val bounded = TextAnalysis.bm25PercolateBounded(s2, Sf0001)
      .as[(Long, Long, Long)].collect().toSeq
    val raw = TextAnalysis.bm25PercolateRawForSpec(s2, Sf0001)
      .as[(Long, Long, Long)].collect().toSeq
    val t = TextAnalysis.Bm25PercolateMinMicro
    // the bound is a pure filter of the raw match emission...
    assert(bounded.toSet === raw.filter(_._3 >= t).toSet)
    // ...and it is non-vacuous on the gated corpus: both branches live
    assert(bounded.nonEmpty && bounded.size < raw.size,
      s"threshold $t is vacuous: ${bounded.size} of ${raw.size} rows survive")
    assert(bounded.forall(_._3 >= t))
    // every standing query still fires on something (the bound caps
    // emission volume; it must not silence whole alerts on this corpus)
    assert(raw.map(_._1).toSet === bounded.map(_._1).toSet)
  }

  test("mass-query BM25: DataFrame query set builds collect-free and equals the literal-IN search") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val s2 = spark.newSession()
    TextAnalysis.persistBm25Index(s2, Sf0001)
    val queries = TextAnalysis.bm25QueriesOf(TextAnalysis.bm25Corpus(s2, Sf0001))
    // plan CONSTRUCTION must run zero Spark jobs — the literal form pays
    // a term-set collect up front (right for bounded alert sets); the
    // mass form must not, or a corpus-derived query set would
    // materialize on the driver
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val massPlan =
      try {
        val df = TextAnalysis.bm25SearchAgainstDf(s2, queries)
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext, 30000)
        assert(jobs.get() === 0,
          s"mass-path plan construction ran ${jobs.get()} jobs — a collect leaked in")
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    // same rows as the literal-IN indexed search (and thus the inline
    // ranking, by the txt_bm25_indexed gate)
    val mass = massPlan.collect()
    val lit = TextAnalysis.bm25SearchAgainst(s2, queries).collect()
    assert(mass.toSeq === lit.toSeq)
  }

  test("bm25 top-k matches an independent per-query brute force") {
    import spark.implicits._
    val got = TextAnalysis.bm25Topk(spark, Sf0001)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val toks = graft.core.Tables.load(spark, Sf0001, "documents")
      .selectExpr("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val n = toks.size
    val sumDl = toks.valuesIterator.map(_.size.toLong).sum
    val queries = toks.collect { case (id, tk) if id % 37 == 0 =>
      id -> tk.take(4).distinct
    }
    val qterms = queries.valuesIterator.flatten.toSet
    val dfreq = qterms.iterator
      .map(t => t -> toks.valuesIterator.count(_.contains(t)).toLong).toMap
    // mirror the engine's arithmetic exactly: ln once, HALF_UP to micro
    // (scala BigDecimal(double) is Spark Round's own path), then exact
    // double product + floor, then integer sums
    def idfMicro(t: String): Long =
      BigDecimal(math.log(((n - dfreq(t)).toDouble + 0.5) / (dfreq(t).toDouble + 0.5)) * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def micro(t: String, tf: Long, dl: Long): Long =
      math.floor(idfMicro(t).toDouble * ((tf.toDouble * 2.25) /
        (tf.toDouble + 0.3125 + 0.9375 * (dl.toDouble / (sumDl.toDouble / n.toDouble))))).toLong
    val want = queries.toSeq.flatMap { case (qid, terms) =>
      val scored = toks.toSeq.flatMap { case (did, tk) =>
        val hits = terms.filter(tk.contains)
        if (hits.isEmpty) None
        else Some(did -> hits.map(t => micro(t, tk.count(_ == t).toLong, tk.size.toLong)).sum)
      }
      scored.sortBy { case (did, s) => (-s, did) }.take(TextAnalysis.Bm25TopK)
        .zipWithIndex.map { case ((did, s), i) => (qid, (i + 1).toLong, did, s) }
    }.sortBy(r => (r._1, r._2))
    assert(got === want)
  }

  test("bm25 percolation is chunking-invariant: per-batch emissions union to the batch score table") {
    val s2 = spark.newSession()
    TextAnalysis.persistBm25Index(s2, Sf0001, "bm25p_post_t", "bm25p_df_t", "bm25p_stats_t")
    try {
      val standing = graft.core.Tables.load(s2, Sf0001, "documents")
        .selectExpr("doc_id", "split(text, '\\\\s+') AS tk")
        .filter(col("doc_id") % 37 === 0)
        .selectExpr("doc_id AS query_id",
          "explode(array_distinct(slice(tk, 1, 4))) AS token")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val d = graft.core.Tables.load(s2, Sf0001, "documents")
      def score(batch: org.apache.spark.sql.DataFrame) =
        TextAnalysis.bm25ScoreDocsDf(batch, standing.toDF("query_id", "token"),
          "bm25p_df_t", "bm25p_stats_t")
      // frozen stats: scoring 3 disjoint arrival batches separately must
      // union to exactly the one-shot score table (stateless per doc)
      val chunked = (0 to 2).map(k => score(d.filter(col("doc_id") % 3 === k)))
        .reduce(_ unionByName _).collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
      val oneShot = score(d).collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
      assert(chunked === oneShot)
      assert(oneShot.nonEmpty)
    } finally {
      Seq("bm25p_post_t", "bm25p_df_t", "bm25p_stats_t")
        .foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t")); ()
    }
  }

  test("eval harness scores a perfect ranking as perfect: full-probe IVF recall=1, rr=1") {
    import spark.implicits._
    val labels = graft.core.Tables.load(spark, Sf0001, "embeddings")
      .select("label").distinct().count().toInt
    val rows = Similarity.evalAgainstExact(spark, Sf0001,
        Similarity.ivfTopkProbe(spark, Sf0001, labels))
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (q, hits, recall, nnRank, rr) =>
      assert(hits === 10L && recall === 1.0 && nnRank === 1L && rr === 1.0,
        s"full probe must reproduce the exact ranking for q=$q: ($hits, $recall, $nnRank, $rr)")
    }
  }

  test("hybrid rrf equals a driver-side fusion of the two verified rankings") {
    import spark.implicits._
    val got = Similarity.hybridRrf(spark, Sf0001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val lex = TextAnalysis.bm25Topk(spark, Sf0001)
      .selectExpr("query_id", "doc_id", "rk").as[(Long, Long, Long)].collect()
      .map { case (q, d, r) => (q, d) -> r }.toMap
    // independent semantic ranking: exact cosine in plain Scala
    val embs = graft.core.Tables.load(spark, Sf0001, "embeddings")
      .selectExpr("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def dotd(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    def nrm(a: Array[Float]): Double = math.sqrt(dotd(a, a))
    val sem = embs.keys.filter(_ % 37 == 0).flatMap { q =>
      embs.toSeq.map { case (d, v) => (q, d, dotd(v, embs(q)) / (nrm(v) * nrm(embs(q)))) }
        .sortBy { case (_, d, c) => (-c, d) }.take(10)
        .zipWithIndex.map { case ((_, d, _), i) => (q, d) -> (i + 1).toLong }
    }.toMap
    val want = (lex.keySet ++ sem.keySet).groupBy(_._1).toSeq.flatMap { case (q, keys) =>
      keys.toSeq.map { k =>
        val rrf = lex.get(k).map(r => 1.0 / (60 + r).toDouble).getOrElse(0.0) +
          sem.get(k).map(r => 1.0 / (60 + r).toDouble).getOrElse(0.0)
        (q, k._2, rrf)
      }.sortBy { case (_, d, s) => (-s, d) }.take(10)
        .zipWithIndex.map { case ((_, d, s), i) => (q, (i + 1).toLong, d, s) }
    }.sortBy(r => (r._1, r._2))
    assert(got === want)
  }

  test("ppl filter keeps a nonempty strict subset on the corpus-mean threshold") {
    val scored = TextAnalysis.perplexityInline(spark, Sf0001).cache()
    try {
      val total = scored.count()
      val sums = scored.selectExpr("CAST(sum(nll_micro) AS DOUBLE) / sum(n_bigrams) AS t")
        .collect()(0).getDouble(0)
      val kept = scored.filter(s"avg_nll <= $sums").count()
      assert(kept > 0 && kept < total,
        s"corpus-mean threshold must split the corpus, kept $kept of $total")
    } finally { scored.unpersist(); () }
  }
}
