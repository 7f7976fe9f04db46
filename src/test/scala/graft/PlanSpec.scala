package graft

import graft.operators._

/** Physical-plan shape assertions — the scale audits from
  * `tools.PlanAudit`, pinned as tests so a regression in pushdown, join
  * strategy, or shuffle shape fails CI instead of silently costing 100x at
  * 100 TB. Each check inspects the executed (AQE-final where relevant)
  * plan string of the sf0.001 query.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scans prune columns: src query reads only projected fields") {
    val p = plan(TextAnalysis.tokenCount(spark, Sf0001))
    // the 2-column text query must not drag lang/source through the scan
    assert(p.contains("ReadSchema"), p.take(400))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("lang") && !read.contains("source"),
      s"token count scan reads unprojected columns: $read")
  }

  test("filter pushdown reaches the scan (events type filters)") {
    val p = plan(Relational.intervalJoin(spark, Sf0001))
    // assert on the PushedFilters entries specifically — matching the bare
    // column name would be satisfied by ReadSchema even with nothing pushed
    assert(p.contains("EqualTo(event_type,error)") && p.contains("EqualTo(event_type,click)"),
      s"interval join does not push the event_type filters:\n${p.take(800)}")
  }

  test("interval join is hash-based, never a nested loop") {
    val p = plan(Relational.intervalJoin(spark, Sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range predicate must ride a bucketized equi-join, not a nested loop")
  }

  test("tfidf's only non-equi join is the 1-row corpus-size constant") {
    val p = plan(TextAnalysis.tfidf(spark, Sf0001))
    // the crossJoin(n_docs) is a single-row broadcast: allowed; anything
    // joining two real relations without keys is not
    val bnlj = p.linesIterator.count(l => l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(bnlj <= 1, s"unexpected non-equi joins ($bnlj):\n${p.take(800)}")
  }

  test("revenue join broadcasts the dimension side") {
    val p = plan(Relational.revenueByNation(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"), "small dims must broadcast, not shuffle the fact table")
  }

  test("dedup exact is a single hash-aggregate pipeline (no joins)") {
    val p = plan(Dedup.exact(spark, Sf0001))
    assert(!p.contains("Join"), "exact dedup must be one shuffle on the hash key")
    assert(p.contains("HashAggregate"), "exact dedup should hash-aggregate")
  }

  test("quantize is map-only: no exchange before the final ordering") {
    val p = plan(Training.quantize(spark, Sf0001))
    // one Exchange is the output orderBy's range partitioning; the
    // quantization itself must not shuffle
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 1, s"quantize should shuffle only for the final sort:\n${p.take(800)}")
  }

  test("manifest composes without any nested-loop join") {
    val p = plan(Pipeline.manifest(spark, Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the curation chain must stay equi-join only")
  }

  test("pair join shuffles both sides on the pair key (no broadcast of the fact stream)") {
    val p = plan(TaxiQueries.q8PairJoin(spark, Sf0001))
    assert(p.contains("Join"), "pair query must join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "START/END pairing must be a keyed join")
  }

  test("batch entries of the shared bounded/unbounded queries plan no watermark") {
    // the shared forms declare watermarks; on a batch frame the analyzer
    // must drop them, so each batch entry plans as the plain query
    val entries = Seq("q1_tumble", "q4_cnt_freq", "q6_sliding", "q7_session",
      "q8_pair_join", "q8_pair_outer")
    entries.foreach { id =>
      val analyzed = SparkEntry.queries(id)(spark, Sf0001).queryExecution.analyzed
      assert(analyzed.collectFirst {
          case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
        }.isEmpty, s"$id keeps an EventTimeWatermark:\n$analyzed")
    }
  }

  test("q3_over_recent windows over the FULL cell id (no coarse-bucket parallelism cap)") {
    val p = plan(TaxiQueries.q3OverRecent(spark, Sf0001))
    assert(p.contains("RangeFrame"), s"OVER frame missing:\n${p.take(800)}")
    // the window's partitioning must be the raw cell column — a derived
    // coarse bucket (the old cell % 5) caps the sort at bucket-count tasks
    val part = p.linesIterator.find(_.contains("hashpartitioning")).getOrElse("")
    assert(part.contains("hashpartitioning(cell#") && !part.contains("%"),
      s"window must partition by the full cell id: $part")
  }

  test("cluster assembly stays keyed: no nested-loop joins in the final plan") {
    val p = plan(Dedup.cluster(spark, Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cluster members/stats joins must be equi-joins:\n${p.take(800)}")
  }

  test("epoch shuffle reads only doc_id and pays exactly one real shuffle") {
    val p = plan(Pipeline.shuffleShards(spark, Sf0001))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("text") && !read.contains("lang"),
      s"shuffle key derives from doc_id; scan must not read data columns: $read")
    // one hashpartitioning(shard) exchange for the per-shard window; the
    // only other exchange is the oracle-determinism orderBy (range)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"expected exactly one hash exchange, got $hashEx:\n${p.take(1200)}")
  }

  test("mixture sampling broadcasts its rates and uses no per-source window") {
    val p = plan(Pipeline.mixtureSample(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"per-source rates must broadcast back onto the corpus:\n${p.take(800)}")
    assert(!p.contains("Window"),
      "the keep decision is a hash threshold — a per-source window would cap parallelism at #sources")
  }

  test("quality classifier is scan + project only (no shuffle before the output ordering)") {
    val p = plan(Pipeline.qualityClassify(spark, Sf0001))
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"frozen-weight scoring must not join or aggregate:\n${p.take(800)}")
    // exactly one Exchange: the orderBy's range partitioning
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1,
      s"classifier should be map-only up to the output sort:\n${p.take(800)}")
  }

  test("dataset diff hashes below the join: the full-outer exchange carries md5, not text") {
    val df = Pipeline.datasetDiff(spark, Sf0001)
    df.collect() // finalize AQE
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // no Exchange row may reference the text column — only doc_id + md5 shuffle
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text")),
      s"diff shuffles raw text:\n${exchanges.mkString("\n")}")
  }

  test("vocab build truncates with TakeOrdered before the serial coverage window") {
    val p = plan(TextAnalysis.vocabBuild(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N must be per-partition heads + merge, not a global sort:\n${p.take(800)}")
  }

  test("fuzzy decontamination candidates ride the band equi-join, never all pairs") {
    val p = plan(Training.contaminationFuzzy(spark, Sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"train x bench candidates must come from the banded equi-join:\n${p.take(800)}")
  }

  test("hard negatives: corpus scored via the label equi-join, probe is the only cross") {
    val p = plan(Similarity.hardNegatives(spark, Sf0001))
    assert(!p.contains("CartesianProduct"),
      s"hard-negative mining must never cross-join the corpus:\n${p.take(800)}")
    // one BNLJ allowed: the query x broadcast-pivots probe ranking (a
    // K-row table); the corpus-scoring join must be a hash equi-join
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 1, s"expected at most the pivot-probe BNLJ, got $bnl:\n${p.take(800)}")
  }

  test("rebalanced IVF serve: probed lists ride the cluster_id equi-join; probe is the only cross") {
    val (table, model) = ("plan_rb_index", "plan_rb_model")
    Seq(table, model).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Similarity.buildKmeansIvf(spark,
        graft.core.Tables.load(spark, Sf0001, "embeddings")
          .select("vec_id", "embedding"), table, model)
      val p = plan(Similarity.ivfKmeansServe(spark, table, model))
      assert(!p.contains("CartesianProduct"),
        s"serving must never cross-join the index:\n${p.take(800)}")
      // one BNLJ allowed: the query x K-row centroid broadcast (the probe
      // ranking); list scoring must be the hash equi-join on cluster_id
      val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(bnl <= 1, s"expected at most the centroid-probe BNLJ, got $bnl:\n${p.take(800)}")
      assert(p.contains("cluster_id"),
        s"list scoring must join on cluster_id:\n${p.take(800)}")
    } finally Seq(table, model).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("salted join shuffles on (key, salt) — no broadcast collapses the demonstration") {
    val p = plan(Relational.saltedEventJoin(spark, Sf0001))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"the salted join must be a shuffled join:\n${p.take(800)}")
  }

  test("semantic dedup joins on the sketch bucket, never all pairs") {
    val p = plan(Similarity.semanticDedup(spark, Sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidate generation must ride the bucket equi-join:\n${p.take(800)}")
  }

  test("phash near-dup joins on (kind, band, band-sig), never all pairs") {
    val p = plan(graft.operators.Multimodal.phashDedup(spark, Sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidate generation must ride the band equi-join:\n${p.take(800)}")
  }

  test("semantic decontamination broadcasts the eval side, never all pairs") {
    val p = plan(Similarity.contaminationSemantic(spark, Sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidates must ride the sketch-bucket equi-join:\n${p.take(800)}")
    // the eval side is benchmark-sized BY CONTRACT: it must arrive as a
    // broadcast build side, so the training corpus never shuffles for
    // candidate generation
    assert(p.contains("BroadcastHashJoin"),
      s"the eval side must broadcast:\n${p.take(800)}")
  }

  test("IVF-PQ: corpus rides broadcast joins (probe + refine), never an all-pairs scan") {
    Similarity.persistPqModel(spark, Sf0001)
    val p = plan(Similarity.pqTopkAgainst(spark, Sf0001,
      Clustering.KmeansModelTable, Similarity.PqModelTable))
    // candidate generation must be the cluster_id equi-join against the
    // broadcast probe set, and refine the broadcast pool/query joins —
    // the corpus side never cross-joins and never shuffles for a join
    assert(!p.contains("CartesianProduct"),
      s"PQ search must never cross-join the corpus:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"probe/refine must broadcast the small side:\n${p.take(800)}")
    // the only BroadcastNestedLoopJoin allowed is the query side's
    // 8-row centroid ranking (crossJoin with the K-struct literal table);
    // the corpus-scoring joins are all hash equi-joins
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 1, s"corpus-side nested loop crept in ($bnl):\n${p.take(1200)}")
  }

  test("PQ serve over stored codes: same join discipline as the inline search") {
    // the persisted-code apply path (the lifecycle family's serving tier):
    // reconstruction is map-only over the bucketed code index, probes and
    // pools broadcast, the index never cross-joins or shuffles for a join
    dropTables("planspec_pq_t", "planspec_pq_c", "planspec_pq_b")
    Similarity.buildPqIndex(spark,
      graft.core.Tables.load(spark, Sf0001, "embeddings")
        .select("vec_id", "embedding"),
      "planspec_pq_t", "planspec_pq_c", "planspec_pq_b")
    val p = plan(Similarity.pqServe(spark, Sf0001,
      "planspec_pq_t", "planspec_pq_c", "planspec_pq_b"))
    assert(!p.contains("CartesianProduct"),
      s"PQ serve must never cross-join the code index:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"probe/refine must broadcast the small side:\n${p.take(800)}")
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 1, s"index-side nested loop crept in ($bnl):\n${p.take(1200)}")
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in the final plan)") {
    import org.apache.spark.sql.functions._
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      // shrink the skew thresholds so the hot key trips them on test-size data
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // 95% of left rows share one key — the classic hot-key join
      val left = spark.range(200000)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          concat(lit("payload-payload-payload-"), col("id")).as("pad"))
      val right = spark.range(1000).select(col("id").as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      // execute THIS df (count() would plan a separate QueryExecution and
      // leave joined's adaptive plan unfinalized)
      assert(joined.collect().length > 0)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${p.take(1200)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("source caps aggregate with bounded TopK, never a per-source window sort") {
    val p = plan(graft.operators.Pipeline.sourceCaps(spark, Sf0001))
    assert(p.contains("ObjectHashAggregate"),
      s"TopK aggregate missing (udaf runs in ObjectHashAggregate):\n${p.take(800)}")
    assert(!p.contains("Window"),
      s"per-source cap must not materialize a window sort over the domain:\n${p.take(800)}")
  }

  test("funnel pushes every step's event_type filter into its scan") {
    val p = plan(graft.operators.Relational.funnel(spark, Sf0001))
    for (t <- Seq("view", "click", "purchase"))
      assert(p.contains(s"EqualTo(event_type,$t)"),
        s"funnel does not push the $t filter:\n${p.take(800)}")
  }

  test("oov rate probes the vocab via broadcast after a TakeOrdered truncation") {
    val p = plan(TextAnalysis.oovRate(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab selection must truncate distributed, not globally sort:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab membership must broadcast, not shuffle the token stream:\n${p.take(800)}")
  }

  test("perplexity scoring broadcasts the vocab-bounded LM (no corpus self-join, no sort-merge)") {
    val p = plan(TextAnalysis.perplexityInline(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the (l, r) model probe must broadcast the vocab-bounded table:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"scoring must never shuffle-join or self-join the corpus:\n${p.take(800)}")
  }

  test("substring detector generates windows once: a single fused-kernel Generate") {
    val df = graft.operators.Dedup.substring(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    val nGenerate = "Generate ".r.findAllIn(p).length
    assert(nGenerate === 1,
      s"expected exactly one window-explode Generate, got $nGenerate:\n${p.take(1000)}")
    assert(!p.contains("ArrayFilter") && !p.contains("ArrayTransform"),
      "interpreted HOF stack crept back into the window pipeline")
  }

  test("segment set-ops reads customer ONCE: conditional aggregate, not 6-branch set ops") {
    val df = Relational.segmentSetOps(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the intersect/except formulation planned six separate customer scans
    // (one per set-operator branch — ReuseExchange never fires across the
    // differing aggregate shapes); the linearized form is one scan
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"expected a single customer scan, got $scans:\n${p.take(1500)}")
  }

  test("boilerplate membership is a semi join with the per-source totals broadcast") {
    val df = TextAnalysis.boilerplate(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("LeftSemi"),
      s"boiler-set membership must be a semi join (duplicate-safe):\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source doc totals must broadcast onto the df counts:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"boilerplate detection must stay equi-join only:\n${p.take(1200)}")
  }

  test("overlap chunker is map-only: explode in the scan stage, no shuffle before the sort") {
    val p = plan(Training.chunkOverlap(spark, Sf0001))
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"chunking must not join or aggregate:\n${p.take(800)}")
    // exactly one Exchange: the output orderBy's range partitioning
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1,
      s"chunker should be map-only up to the output sort:\n${p.take(800)}")
  }

  test("leakage split guards via a semi join: membership, never a row-multiplying join") {
    val df = Training.leakageSplit(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("LeftSemi"),
      s"val-shingle membership must be a semi join (duplicate-safe):\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"leak guard must stay equi-join only:\n${p.take(1200)}")
  }

  test("contamination bloom probes inside the scan stage, before any shuffle or join") {
    // bloom_agg/bloom_contains are extension-registered: this pin needs an
    // engine session, not the bare shared test session (same pattern as
    // OperatorsSpec's bloom equivalence test)
    import org.apache.spark.sql.SparkSession
    val prior = SparkSession.getDefaultSession.orNull
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val p = try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.core.GraftExtensions)
        .getOrCreate()
      val df = Training.contaminationBloom(s2, Sf0001)
      df.collect()
      plan(df).split("== Initial Plan ==")(0)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
    val lines = p.linesIterator.toVector
    // bloom_contains lowers to the might_contain physical predicate
    val fi = lines.indexWhere(l => l.contains("Filter") && l.contains("might_contain"))
    assert(fi >= 0, s"bloom might_contain filter missing from plan:\n${p.take(1500)}")
    // everything between the bloom probe and the train scan must be
    // map-side (project/generate) — an Exchange or Join there would mean
    // the corpus shuffles BEFORE the filter prunes it
    val below = lines.drop(fi + 1).takeWhile(l => !l.contains("Scan parquet"))
    assert(below.forall(l => !l.contains("Exchange") && !l.contains("Join")),
      s"bloom probe is not scan-adjacent:\n${lines.slice(fi, fi + 8).mkString("\n")}")
  }

  test("bucketed fact-fact join reads both sides in place: zero exchanges below the join") {
    val df = Relational.bucketedJoin(spark, Sf0001)
    df.collect() // AQE: inspect the FINAL plan, not the static guess
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"),
      s"bucketed join must stay a sort-merge join (merge hint lost?):\n${p.take(900)}")
    // the ONLY legal exchanges are the 5-group rollup and the output sort;
    // an exchange on the orderkey means the bucketed layout was ignored
    // and the full fact tables reshuffled — the exact cost the layout
    // exists to delete
    assert(!p.contains("hashpartitioning(o_orderkey") &&
        !p.contains("hashpartitioning(l_orderkey"),
      s"join re-shuffled a bucketed fact table on the join key:\n${p.take(1200)}")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2,
      s"expected at most rollup+sort exchanges, got $exchanges:\n${p.take(1200)}")
  }

  test("bm25 probes searched terms via broadcast and ranks with bounded TopK") {
    val p = plan(TextAnalysis.bm25Topk(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the query-term set must broadcast into the token stream:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate"),
      s"ranking must run the bounded TopK udaf:\n${p.take(800)}")
    assert(!p.contains("Window"),
      s"per-query ranking must not window-sort the candidates:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in bm25 may shuffle-join (broadcasts + 1-row constants only):\n${p.take(800)}")
  }

  test("hybrid rrf never window-sorts: both rankings and the fusion use bounded TopK") {
    val p = plan(graft.operators.Similarity.hybridRrf(spark, Sf0001))
    assert(!p.contains("Window"),
      s"all three rankings must ride the bounded TopK aggregate:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate"), p.take(400))
    assert(!p.contains("SortMergeJoin") || p.contains("FullOuter"),
      s"only the metadata-scale rank fusion may shuffle-join:\n${p.take(800)}")
  }

  test("hybrid rrf on the pq index: code index never shuffles, bounded TopK everywhere") {
    import graft.operators.Similarity
    // build-or-reuse the dedicated full-corpus PQ index the hybrid serves
    Similarity.hybridRrfPq(spark, Sf0001).queryExecution // force the persist
    val p = plan(Similarity.hybridRrfPq(spark, Sf0001))
    // one bounded window may rank the K-row coarse-centroid probe per
    // query (broadcast literal, WindowGroupLimit-capped); everything
    // data-scale — ADC candidates, refine pool, exact re-rank, fusion —
    // must ride the TopK aggregate
    assert(p.linesIterator.count(_.contains("Window [")) <= 1,
      s"a second window means a data-scale ranking fell off the TopK aggregate:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate"), p.take(400))
    // the code index is read in place: probes and pools broadcast INTO it
    assert(p.contains("BroadcastHashJoin"),
      s"probe/pool joins must broadcast into the code index:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"no unkeyed join may touch the corpus:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") || p.contains("FullOuter"),
      s"only the metadata-scale rank fusion may shuffle-join:\n${p.take(800)}")
  }

  test("hybrid rrf on the ivf index: probed-list equi-join, bounded TopK everywhere") {
    graft.operators.Similarity.persistIvfIndexIfStale(spark, Sf0001)
    val p = plan(graft.operators.Similarity.hybridRrfIvf(spark, Sf0001))
    // the ONLY window ranks the broadcast pivot set per query (K rows per
    // query, bounded — and Spark caps it further with WindowGroupLimit);
    // candidate scoring and fusion ride the TopK aggregate. Count `Window [`
    // operator nodes, not the substring: WindowGroupLimit pushdown nodes
    // also contain "Window" and are exactly what we WANT to see.
    assert(p.linesIterator.count(_.contains("Window [")) <= 1,
      s"a second window means a data-scale ranking fell off the TopK aggregate:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate"), p.take(400))
    // semantic candidates must come from the probed-list hash equi-join
    // against the bucketed index, never a corpus scan
    assert(p.contains("BroadcastHashJoin"),
      s"probe join must hash-join the bucketed index:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"no unkeyed join may touch the corpus:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") || p.contains("FullOuter"),
      s"only the metadata-scale rank fusion may shuffle-join:\n${p.take(800)}")
  }

  test("temporal join is a hash equi-join on the key with interval filter — no range join") {
    val p = plan(Relational.temporalJoin(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the as-of join must equi-join on user_id (interval as post-join filter):\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"an unkeyed range join would scan facts x versions:\n${p.take(800)}")
  }

  test("sorted as-of join: one exchange, zero joins") {
    val p = plan(Relational.temporalJoinSorted(spark, Sf0001))
    assert(!p.contains("Join"),
      s"the sort-merge as-of must be join-free (union + window):\n${p.take(800)}")
    // one exchange partitions the union by user_id; the second is the
    // output orderBy's range partitioning
    val ex = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(ex <= 2, s"expected key-shuffle + output-sort exchanges only, got $ex:\n${p.take(800)}")
  }

  test("token budget pays no whole-source window over corpus rows") {
    val df = Pipeline.tokenBudget(spark, Sf0001)
    df.collect() // finalize AQE
    val p = plan(df)
    // the only Window touching corpus rows (it sums n_tokens) must be
    // partitioned by (source, bkt) — a source-only partition over the
    // corpus is the parallelism ceiling the two-phase design exists to
    // avoid; source-only windows are fine over the metadata histogram
    // (they sum bkt_tok, not n_tokens)
    val corpusWindows = p.linesIterator
      .filter(l => l.contains("Window") && l.contains("n_tokens")).toSeq
    assert(corpusWindows.nonEmpty, s"expected the crossing-bucket window:\n${p.take(1200)}")
    corpusWindows.foreach(w =>
      assert(w.contains("bkt#"),
        s"corpus-row window must be bucket-partitioned, not per-source:\n$w"))
    // bucket decisions come back as a broadcast, never a shuffled join
    assert(p.contains("BroadcastHashJoin"),
      s"bucket classifications must broadcast onto the corpus:\n${p.take(1200)}")
  }

  test("whole-stage codegen covers the taxi filter-project pipeline") {
    val df = TaxiQueries.q1Tumble(spark, Sf0001)
    df.collect() // AQE only materializes codegen'd stages in the FINAL plan
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as `*(n) Operator` in the compact plan string
    assert(p.contains("*(1)"), "q1 pipeline fell out of codegen")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")),
      "the aggregation must run inside a codegen stage")
  }

  test("lake percolation scorer: standing set broadcasts into the batch, stats is the only cross") {
    import graft.operators.TextAnalysis
    TextAnalysis.persistBm25Index(spark, Sf0001)
    val p = plan(TextAnalysis.bm25ScoreDocsDf(
      graft.core.Tables.load(spark, Sf0001, "documents"),
      TextAnalysis.bm25StandingQueriesDf(spark, Sf0001,
        org.apache.spark.sql.functions.lit(true)),
      TextAnalysis.Bm25DfTable, TextAnalysis.Bm25StatsTable))
    assert(!p.contains("CartesianProduct"),
      s"the lake scorer must never cross-join queries x docs:\n${p.take(800)}")
    // one BNLJ allowed: the 1-row (n_docs, sum_dl) stats broadcast; the
    // standing set and df folds must ride broadcast HASH joins on token
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 1, s"expected at most the 1-row stats cross, got $bnl:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"standing-set membership must be a broadcast hash join:\n${p.take(800)}")
  }
}
