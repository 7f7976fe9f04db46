package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis}

/** The serving/eval tiers take their arriving query sets as DATAFRAMES
  * (broadcast semi-joins into the index probes) — never as a driver
  * collect + IN literal. With corpus-derived query streams, the collect
  * form materializes data-scale ids on the driver — the one plan shape
  * the r16 audit flagged as not survivable at 100×. These specs pin
  * both halves of the replacement: plan CONSTRUCTION runs zero Spark
  * jobs (a collect would be a job), and the set-restricted result
  * equals the full ranking restricted to the same ids.
  */
class ServeSetSpec extends SparkSpec {

  /** Build `df` while metering every Spark job's task metrics; a leaked
    * collect fails. The pin is STRUCTURAL, not name-based (the r17 form
    * whitelisted the stage-name substring `parquet at Tables.scala`,
    * which both breaks on call-site moves and would silently bless a
    * real collect at that site): the only jobs allowed through are ones
    * whose tasks read ZERO input records and ZERO shuffle records —
    * parquet FOOTER reads at `spark.read` construction are bounded
    * metadata work with no row input, categorically different from the
    * data-proportional id collect this pin exists to forbid, which must
    * scan its source (input records > 0) or shuffle to rank it.
    */
  private def assertCollectFree[T](label: String)(mk: => T): T = {
    import org.apache.spark.scheduler.SparkListenerTaskEnd
    val jobName = scala.collection.concurrent.TrieMap.empty[Int, String]
    val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val jobRecords = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobName(j.jobId) = j.stageInfos.map(_.name).mkString(" | ")
        j.stageIds.foreach(sid => stageJob(sid) = j.jobId)
        ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val rows = Option(t.taskMetrics).map(m =>
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
          .getOrElse(0L)
        stageJob.get(t.stageId).foreach { jid =>
          jobRecords(jid) = jobRecords.getOrElse(jid, 0L) + rows
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = mk
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext, 30000)
      val dataJobs = jobName.toSeq.collect {
        case (jid, name) if jobRecords.getOrElse(jid, 0L) > 0L =>
          s"$name (${jobRecords(jid)} records)"
      }
      assert(dataJobs.isEmpty,
        s"$label plan construction ran ${dataJobs.length} row-reading jobs — " +
          s"a collect leaked in: ${dataJobs.mkString("[", " /// ", "]")}")
      out
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def idSet(s: org.apache.spark.sql.SparkSession, mod: Int): DataFrame =
    graft.core.Tables.load(s, Sf0001, "embeddings")
      .select("vec_id").filter(col("vec_id") % mod === 0)

  test("hybrid serving: DataFrame query set builds collect-free and equals the full fusion restricted to it") {
    val s2 = spark.newSession()
    TextAnalysis.persistBm25Index(s2, Sf0001)
    Similarity.persistIvfIndexIfStale(s2, Sf0001)
    // every 2nd stride query (stride 37 → ids % 74 == 0): a genuine subset
    val qSet = idSet(s2, TextAnalysis.Bm25QueryStride * 2)
    val served = assertCollectFree("hybridServeBatch") {
      Similarity.hybridServeBatch(s2, Sf0001, qSet)
    }.collect().toSeq
    val ids = qSet.collect().map(_.getLong(0)).toSet
    val full = Similarity.hybridRrfIvf(s2, Sf0001)
      .collect().filter(r => ids.contains(r.getLong(0))).toSeq
    assert(served.nonEmpty && served === full)
  }

  test("PQ hybrid serving: DataFrame query set builds collect-free and equals the PQ fusion restricted to it") {
    val s2 = spark.newSession()
    TextAnalysis.persistBm25Index(s2, Sf0001)
    Similarity.persistPqHybridIfStale(s2, Sf0001)
    val qSet = idSet(s2, TextAnalysis.Bm25QueryStride * 2)
    // the K-row codebook/centroid loads happen ONCE at stream start (the
    // frozen-model discipline) — the metered contract is the PER-BATCH
    // plan construction, which must read zero rows given frozen models
    val coarse = graft.operators.Clustering.loadCentroids(s2, Similarity.PqHyCoarse)
    val books = Similarity.loadPqBooks(s2, Similarity.PqHyBooks)
    val served = assertCollectFree("hybridServePqBatchWith") {
      Similarity.hybridServePqBatchWith(s2, Sf0001, qSet, coarse, books)
    }.collect().toSeq
    val ids = qSet.collect().map(_.getLong(0)).toSet
    val full = Similarity.hybridRrfPq(s2, Sf0001)
      .collect().filter(r => ids.contains(r.getLong(0))).toSeq
    assert(served.nonEmpty && served === full)
  }

  test("streaming eval: DataFrame query set builds collect-free and equals the batch eval restricted to it") {
    val s2 = spark.newSession()
    val qSet = idSet(s2, 40) // subset of the stride-20 eval queries
    val got = assertCollectFree("evalBatch") {
      Similarity.evalBatch(s2, Sf0001, qSet)
    }.collect().toSeq
    val ids = qSet.collect().map(_.getLong(0)).toSet
    val full = Similarity.evalRecall(s2, Sf0001)
      .collect().filter(r => ids.contains(r.getLong(0))).toSeq
    assert(got.nonEmpty && got === full)
  }

  test("generation-aware serving: the stream picks up a published re-train at the batch boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    import s2.implicits._
    TextAnalysis.persistBm25Index(s2, Sf0001)
    Similarity.persistPqServeGens(s2, Sf0001)
    Similarity.pqServeGenReset(s2)
    assert(Similarity.pqServeGenCurrent(s2) === 0L)
    val qSet = idSet(s2, TextAnalysis.Bm25QueryStride * 2)
    val qIds = qSet.collect().map(_.getLong(0)).toSeq
    assert(qIds.nonEmpty)
    // the batch oracles: the SAME query set served under each generation
    def servedUnder(g: Long): Seq[String] = {
      val (t, c, b) = Similarity.srTables(g)
      Similarity.hybridServePqBatchWith(s2, Sf0001, qSet,
          graft.operators.Clustering.loadCentroids(s2, c),
          Similarity.loadPqBooks(s2, b), t)
        .collect().map(_.toString).sorted.toSeq
    }
    val want0 = servedUnder(0L)
    val want1 = servedUnder(1L)
    assert(want0 !== want1,
      "the re-train must change some answer or the boundary is unobservable")
    // drive the refreshing stream across the flip with identical batches:
    // a frozen-model stream would answer batch 2 like batch 1
    val mem = MemoryStream[Long](s2)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q = Similarity.hybridServePqStreamRefreshing(
      mem.toDF().select(col("value").as("vec_id")), Sf0001) { v =>
      batches.synchronized { batches += v.collect().map(_.toString).sorted.toSeq }; ()
    }
    try {
      mem.addData(qIds: _*)
      q.processAllAvailable()
      Similarity.pqServeGenPublish(s2, 1L) // the re-train publishes
      mem.addData(qIds: _*)
      q.processAllAvailable()
    } finally q.stop()
    val out = batches.synchronized(batches.toList)
    assert(out.size === 2)
    assert(out.head === want0, "batch 1 must serve the drift generation")
    assert(out.last === want1,
      "batch 2 must serve the re-trained generation — the stream did not re-resolve")
  }

  test("hybrid serve streams release their query-frame pin when they stop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQuery
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val s2 = spark.newSession()
    import s2.implicits._
    val frame = TextAnalysis.bm25QueriesOf(TextAnalysis.bm25Corpus(s2, Sf0001))
    def pinned: Boolean = s2.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(frame.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty
    val starters: Seq[DataFrame => StreamingQuery] = Seq(
      df => Similarity.hybridServeStream(df, Sf0001)(_ => ()),
      df => Similarity.hybridServePqStreamRefreshing(df, Sf0001)(_ => ()))
    starters.foreach { start =>
      val q = start(MemoryStream[Long](s2).toDF().select(col("value").as("vec_id")))
      try assert(pinned, "a running serve stream must hold its query-frame pin")
      finally q.stop()
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(!pinned, "the query-frame pin outlived its stream")
      }
    }
  }
}
