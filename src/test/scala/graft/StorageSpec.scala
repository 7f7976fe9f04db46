package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Pipeline

/** Sink-side scale techniques: partitioned parquet layout with partition
  * pruning, and the written corpus round-trip.
  */
class StorageSpec extends SparkSpec {

  test("z-ordered write yields disjoint per-file zval ranges (prunable footer stats)") {
    val out = Files.createTempDirectory("zorder").toString + "/corpus"
    val nFiles = Pipeline.zorderWrite(spark, Sf0001, out, 4)
    assert(nFiles === 4L)
    // range partitioning on zval must give non-overlapping file ranges —
    // that disjointness is exactly what makes parquet min/max stats prune
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("zval").as("lo"), max("zval").as("hi"))
      .select("lo", "hi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(ranges.length === 4)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges overlap: hi $hi1 > next lo $lo2")
      case _ => ()
    }
  }

  test("curated corpus written partitioned by lang prunes partitions on read") {
    val out = Files.createTempDirectory("corpus").toString
    Pipeline.corpusFilter(spark, Sf0001)
      .write.mode("overwrite").partitionBy("lang").parquet(out)

    // layout check: one directory per language
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("lang=")), dirs.mkString(","))
    assert(dirs.length >= 3)

    val back = spark.read.parquet(out).filter(col("lang") === "en")
    // partition pruning must reach the scan (PartitionFilters, not a
    // post-scan Filter over all partitions)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition filter in plan:\n$plan")
    val full = Pipeline.corpusFilter(spark, Sf0001).filter(col("lang") === "en").count()
    assert(back.count() === full)
  }

  test("bucketed tables co-locate the join (no shuffle exchange on the key)") {
    // warehouse dir is a static conf; the default (./spark-warehouse) is
    // used and the tables are dropped at the end
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    val li = s2.read.parquet(s"$Sf0001/lineitem.parquet")
    val o = s2.read.parquet(s"$Sf0001/orders.parquet")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey").saveAsTable("li_b")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").saveAsTable("o_b")
    val joined = s2.table("li_b").join(s2.table("o_b"),
      col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // both sides read pre-bucketed: the sort-merge join needs no Exchange
    assert(!plan.contains("Exchange"), s"unexpected shuffle in bucketed join:\n$plan")
    assert(joined.count() > 0)
    s2.sql("DROP TABLE IF EXISTS li_b")
    s2.sql("DROP TABLE IF EXISTS o_b")
  }

  test("incremental dedup against a persisted band table: same verdicts, corpus never shuffles") {
    import graft.operators.Dedup
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle question
    Dedup.persistCorpusBands(s2, Sf0001, "corpus_bands_t", buckets = 4)
    try {
      // the persisted path must reproduce the derive-everything path exactly
      val fromTable = Dedup.incrementalAgainst(s2, Sf0001, "corpus_bands_t").collect()
      val derived = Dedup.incremental(s2, Sf0001).collect()
      assert(fromTable.toSeq === derived.toSeq)
      // and the candidate join must move only the batch: exactly one
      // band_key exchange (the incoming side) — the bucketed corpus scan
      // joins in place
      val cand = Dedup.candidatePairs(
        Dedup.incomingBandKeys(s2, Sf0001), s2.table("corpus_bands_t"))
      // collect() executes cand's OWN QueryExecution, so the adaptive plan
      // inspected below is the finalized one (a noop write would execute a
      // separate QueryExecution and leave this one un-finalized). A
      // finalized AdaptiveSparkPlan's toString prints the final AND the
      // initial plan — scope the count to the final section only.
      cand.collect()
      val plan = cand.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val nBandKeyExchanges = "Exchange hashpartitioning\\(band_key".r
        .findAllIn(plan).length
      assert(nBandKeyExchanges === 1,
        s"expected only the incoming side to shuffle on band_key, got $nBandKeyExchanges:\n${plan.take(1500)}")
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_bands_t"); ()
    }
  }

  test("admission closes the ingest loop: admitted keepers are corpus for the next batch, layout preserved") {
    import graft.operators.Dedup
    import spark.implicits._
    // broadcast disabled so the final layout assertion asks the real 100TB
    // question — a broadcastable corpus never exercises its buckets
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Dedup.persistCorpusBands(s2, Sf0001, "corpus_admit_t", buckets = 4)
    try {
      val corpusTable = "corpus_admit_t"
      val batch1 = s2.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 === 8).select("doc_id", "text")
      // collect verdicts BEFORE admitting: v1 is lazy over the table the
      // admission mutates, so later evaluations would see the grown corpus
      val v1 = Dedup.verdictFor(batch1, s2.table(corpusTable))
      val v1Rows = v1.as[(Long, Boolean, Long, Double)].collect()
      val nKept = v1Rows.count(_._2).toLong
      assert(nKept > 0)
      assert(Dedup.admitToCorpus(batch1, v1, corpusTable) === nKept)

      // batch 2 carries an exact clone of an admitted batch-1 keeper under
      // a fresh id: only the ADMITTED rows can flag it, so a hit proves
      // the append is visible (not vacuous corpus overlap)
      val keeperId = v1Rows.filter(_._2).map(_._1).min
      val clone = batch1.filter(col("doc_id") === keeperId)
        .select(lit(77000001L).as("doc_id"), col("text"))
      val batch2 = s2.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 === 9).select("doc_id", "text")
        .unionByName(clone)
      val v2 = Dedup.verdictFor(batch2, s2.table(corpusTable))
        .as[(Long, Boolean, Long, Double)].collect()
      val cloneVerdict = v2.find(_._1 === 77000001L).get
      assert(!cloneVerdict._2, "clone of an admitted keeper must be flagged dup")
      assert(cloneVerdict._3 === keeperId)
      assert(cloneVerdict._4 === 1.0)

      // and the grown table still joins without a corpus-side shuffle
      val cand = Dedup.candidatePairs(
        Dedup.bandKeysOf(batch2), s2.table(corpusTable))
      cand.collect()
      val plan = cand.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"),
        s"corpus scan lost bucketing after append:\n${plan.take(1200)}")
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_admit_t"); ()
    }
  }

  test("self-growing stream admits per batch: a later clone of an admitted keeper is flagged") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val s2 = spark.newSession()
    Dedup.persistCorpusBands(s2, Sf0001, "corpus_grow_s", buckets = 4)
    try {
      val batch1 = s2.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 === 8).select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1)
      val input = MemoryStream[(Long, String)](s2)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long, Double)]
      val q = Dedup.incrementalStreamAdmitting(
        input.toDF().toDF("doc_id", "text"), "corpus_grow_s") { verdicts =>
        got ++= verdicts.as[(Long, Boolean, Long, Double)].collect(); ()
      }
      try {
        input.addData(batch1.toSeq); q.processAllAvailable()
        val gotBatch1 = got.toVector
        val keeper = got.filter(_._2).map(_._1).min
        val keeperText = batch1.find(_._1 === keeper).get._2
        got.clear()
        // second micro-batch: an exact clone of a batch-1 keeper — only
        // batch 1's ADMISSION can flag it
        input.addData(Seq((88000001L, keeperText))); q.processAllAvailable()
        val clone = got.find(_._1 === 88000001L).get
        assert(!clone._2, "clone of a batch-1 keeper must be flagged dup")
        assert(clone._3 === keeper)
        assert(clone._4 === 1.0)
        // at-least-once replay of batch 1 (its keepers are now IN the
        // corpus) must reproduce the original verdicts — the batch's own
        // rows are excluded from the corpus side, so a keeper does not
        // match itself
        val b1df = batch1.toSeq.toDF("doc_id", "text")
        val replayed = Dedup.verdictFromBands(
          b1df.select("doc_id"), Dedup.bandKeysOf(b1df),
          Dedup.replaySafeCorpus(b1df, "corpus_grow_s"))
          .as[(Long, Boolean, Long, Double)].collect()
        val original = gotBatch1.sortBy(_._1)
        assert(replayed.sortBy(_._1).toSeq === original.toSeq,
          "replay against the self-grown corpus must re-emit the original verdicts")
      } finally q.stop()
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_grow_s"); ()
    }
  }

  test("band-table compaction folds per-append files to one per bucket, verdicts unchanged") {
    import graft.operators.Dedup
    import spark.implicits._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Dedup.persistCorpusBands(s2, Sf0001, "corpus_compact_t", buckets = 4)
    try {
      // two admissions accumulate extra per-bucket files
      for (m <- Seq(8, 9)) {
        val b = s2.read.parquet(s"$Sf0001/documents.parquet")
          .filter(col("doc_id") % 10 === m).select("doc_id", "text")
        Dedup.admitToCorpus(b, Dedup.verdictFor(b, s2.table("corpus_compact_t")),
          "corpus_compact_t")
      }
      val rowsBefore = s2.table("corpus_compact_t").count()
      val probe = s2.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 === 7).select("doc_id", "text")
      val vBefore = Dedup.verdictFor(probe, s2.table("corpus_compact_t"))
        .as[(Long, Boolean, Long, Double)].collect().toSeq

      val (before, after) = Dedup.compactCorpusBands(s2, "corpus_compact_t")
      assert(before > 4, s"expected accumulated files, got $before")
      assert(after <= 4, s"expected one file per bucket, got $after")
      // distinct() may only REMOVE replayed duplicates, never real rows
      assert(s2.table("corpus_compact_t").count() === rowsBefore)

      val vAfter = Dedup.verdictFor(probe, s2.table("corpus_compact_t"))
        .as[(Long, Boolean, Long, Double)].collect().toSeq
      assert(vAfter === vBefore)
      // the rebuilt table still joins bucketed (rename kept the spec)
      val cand = Dedup.candidatePairs(
        Dedup.bandKeysOf(probe), s2.table("corpus_compact_t"))
      cand.collect()
      val plan = cand.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"),
        s"compacted table lost bucketing:\n${plan.take(1200)}")
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_compact_t")
      s2.sql("DROP TABLE IF EXISTS corpus_compact_t_compact_tmp"); ()
    }
  }

  test("IVF against a persisted index: identical top-k, corpus reads bucketed in place") {
    import graft.operators.Similarity
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle question
    Similarity.persistIvfIndex(s2, Sf0001, "ivf_idx_t", buckets = 4)
    try {
      val fromIdx = Similarity.ivfTopkAgainst(s2, Sf0001, "ivf_idx_t")
      val rows = fromIdx.collect()
      assert(rows.nonEmpty)
      // the index path must reproduce the derive-everything path exactly
      assert(rows.toSeq === Similarity.ivfTopk(s2, Sf0001).collect().toSeq)
      // and the corpus side of the probe join reads its buckets in place
      val plan = fromIdx.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"),
        s"index scan lost bucketing:\n${plan.take(1200)}")
    } finally {
      s2.sql("DROP TABLE IF EXISTS ivf_idx_t"); ()
    }
  }

  test("compaction recovers a torn drop-to-rename window: temp promoted, then compacts normally") {
    import graft.operators.Dedup
    val s2 = spark.newSession()
    Dedup.persistCorpusBands(s2, Sf0001, "corpus_torn_t", buckets = 4)
    try {
      val rows = s2.table("corpus_torn_t").count()
      // simulate the crash: the rewrite finished the temp, dropped the
      // canonical table, and died before the rename
      s2.table("corpus_torn_t")
        .write.bucketBy(4, "band_key").saveAsTable("corpus_torn_t_compact_tmp")
      s2.sql("DROP TABLE corpus_torn_t")
      // next maintenance call must promote the temp and then compact
      val (_, after) = Dedup.compactCorpusBands(s2, "corpus_torn_t")
      assert(after <= 4)
      assert(s2.table("corpus_torn_t").count() === rows)
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_torn_t")
      s2.sql("DROP TABLE IF EXISTS corpus_torn_t_compact_tmp"); ()
    }
  }

  test("streaming incremental dedup: per-batch verdicts against the persisted corpus equal the batch run") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    Dedup.persistCorpusBands(spark, Sf0001, "corpus_bands_s", buckets = 4)
    try {
      val incoming = spark.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 >= 8)
        .select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(incoming.length > 1)
      val (first, second) = incoming.splitAt(incoming.length / 2)
      val input = MemoryStream[(Long, String)](spark)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long, Double)]
      val q = Dedup.incrementalStream(
        input.toDF().toDF("doc_id", "text"), "corpus_bands_s") { verdicts =>
        got ++= verdicts.as[(Long, Boolean, Long, Double)].collect(); ()
      }
      try {
        input.addData(first.toSeq); q.processAllAvailable()
        input.addData(second.toSeq); q.processAllAvailable()
      } finally q.stop()
      // batch boundaries must not change verdicts: each verdict depends
      // only on the doc and the corpus snapshot
      val batch = Dedup.incremental(spark, Sf0001)
        .as[(Long, Boolean, Long, Double)].collect().sortBy(_._1)
      assert(got.sortBy(_._1).toSeq === batch.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS corpus_bands_s"); ()
    }
  }

  test("parquet upsert sink: keyed merge rewrites only touched buckets, honors deletes") {
    import spark.implicits._
    import graft.sinks.ParquetUpsertSink
    val path = Files.createTempDirectory("pqsink").toString + "/store"
    val sink = new ParquetUpsertSink(path, Seq("cell"), nBuckets = 4)

    sink.upsert(Seq((1, 10L), (2, 20L), (3, 30L)).toDF("cell", "cnt"))
    assert(sink.snapshot(spark).as[(Int, Long)].collect().toSet
      === Set((1, 10L), (2, 20L), (3, 30L)))

    // overwrite cell 2, insert cell 4, delete cell 3 — cells 1 stays
    sink.upsert(Seq((2, 21L), (4, 40L)).toDF("cell", "cnt"),
      deletes = Seq((3, 0L)).toDF("cell", "cnt"))
    assert(sink.snapshot(spark).as[(Int, Long)].collect().toSet
      === Set((1, 10L), (2, 21L), (4, 40L)))

    // hash-bucketed layout on disk
    val buckets = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("bucket=")).sorted
    assert(buckets.nonEmpty && buckets.forall(_.matches("bucket=\\d")), buckets.mkString(","))
    // a third batch touching only cell 1 leaves every other key intact
    sink.upsert(Seq((1, 11L)).toDF("cell", "cnt"))
    assert(sink.snapshot(spark).as[(Int, Long)].collect().toSet
      === Set((1, 11L), (2, 21L), (4, 40L)))

    // a DELETE-ONLY batch (no upsert sharing the bucket) must still land
    sink.upsert(spark.emptyDataset[(Int, Long)].toDF("cell", "cnt"),
      deletes = Seq((4, 0L)).toDF("cell", "cnt"))
    assert(sink.snapshot(spark).as[(Int, Long)].collect().toSet
      === Set((1, 11L), (2, 21L)))
  }

  test("bucket-pruned read + prepared upsert match the full-snapshot forms (r22)") {
    import spark.implicits._
    import graft.sinks.ParquetUpsertSink
    val path = Files.createTempDirectory("pqsinkpruned").toString + "/store"
    val sink = new ParquetUpsertSink(path, Seq("cell"), nBuckets = 8)
    // seed enough keys that every bucket is populated
    sink.upsert((0 until 64).map(i => (i, i.toLong)).toDF("cell", "cnt"))

    val batch = Seq((1, 101L), (2, 102L), (100, 100L)).toDF("cell", "cnt")
    val delKeys = Seq((9, 0L)).toDF("cell", "cnt").select("cell")
    val touchedKeys = batch.select("cell").unionByName(delKeys).distinct()

    // the pruned read must return exactly the snapshot rows whose keys
    // hash into the touched buckets — and the retract derivation
    // (semi-join on the keys) must be IDENTICAL through either read
    val bks = sink.bucketIdsOf(touchedKeys)
    assert(bks.nonEmpty && bks.size < 8, s"fixture vacuous: $bks")
    val pruned = sink.readBuckets(spark, bks, batch.schema)
    val viaSnapshot = sink.snapshot(spark)
      .join(touchedKeys, Seq("cell"), "left_semi")
      .as[(Int, Long)].collect().toSet
    val viaPruned = pruned.join(touchedKeys, Seq("cell"), "left_semi")
      .as[(Int, Long)].collect().toSet
    assert(viaPruned === viaSnapshot)
    assert(viaPruned === Set((1, 1L), (2, 2L), (9, 9L))) // key 100 is new

    // upsertPrepared over the caller-provided pre-read must land exactly
    // where plain upsert would: replace 1 and 2, insert 100, delete 9
    sink.upsertPrepared(batch, delKeys, bks, pruned)
    assert(sink.snapshot(spark).as[(Int, Long)].collect().toSet
      === ((0 until 64).toSet -- Set(1, 2, 9)).map(i => (i, i.toLong))
        ++ Set((1, 101L), (2, 102L), (100, 100L)))

    // a missing-lake pruned read is an empty frame, not an error (the
    // retract stream's first batch folds through the same path)
    val fresh = new ParquetUpsertSink(path + "-none", Seq("cell"), 8)
    assert(fresh.readBuckets(spark, Seq(0, 1), batch.schema).count() === 0L)
  }

  test("prepared upsert with a touched set missing a batch bucket fails and leaves the lake unchanged") {
    import spark.implicits._
    import graft.sinks.ParquetUpsertSink
    val path = Files.createTempDirectory("pqsinkstray").toString + "/store"
    val sink = new ParquetUpsertSink(path, Seq("cell"), nBuckets = 8)
    sink.upsert((0 until 64).map(i => (i, i.toLong)).toDF("cell", "cnt"))
    val before = sink.snapshot(spark).as[(Int, Long)].collect().toSet

    val batch = Seq((1, 101L), (2, 102L), (3, 103L)).toDF("cell", "cnt")
    val bks = sink.bucketIdsOf(batch)
    assert(bks.size > 1, s"fixture vacuous: $bks")
    val short = bks.tail
    val e = intercept[IllegalStateException] {
      sink.upsertPrepared(batch, null, short, sink.readBuckets(spark, short, batch.schema))
    }
    assert(e.getMessage.contains(s"bucket(s) ${bks.head} outside"), e.getMessage)
    assert(sink.snapshot(spark).as[(Int, Long)].collect().toSet === before)
  }

  test("an upsert leaves exactly one parquet file in each bucket it touches") {
    import spark.implicits._
    import graft.sinks.ParquetUpsertSink
    val path = Files.createTempDirectory("pqsinkfiles").toString + "/store"
    val sink = new ParquetUpsertSink(path, Seq("cell"), nBuckets = 8)
    def files(bk: Int): Int = new java.io.File(path, s"bucket=$bk").listFiles()
      .count(_.getName.endsWith(".parquet"))
    // spread over 8 input partitions, each holding keys of every bucket
    sink.upsert((0 until 64).map(i => (i, i.toLong)).toDF("cell", "cnt").repartition(8))
    assert((0 until 8).map(files) === Seq.fill(8)(1))
    val batch = Seq((1, 101L), (2, 102L), (3, 103L), (100, 100L)).toDF("cell", "cnt").repartition(4)
    val bks = sink.bucketIdsOf(batch)
    assert(bks.size > 1 && bks.size < 8, s"fixture vacuous: $bks")
    sink.upsert(batch, deletes = Seq((9, 0L)).toDF("cell", "cnt"))
    assert((0 until 8).map(files) === Seq.fill(8)(1))
    assert(sink.snapshot(spark).count() === 64L)
  }

  test("a foreachBatch upsert runs the caller's upstream aggregation once per batch") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.sinks.ParquetUpsertSink
    val input = MemoryStream[(String, Long)](spark)
    val sink = new ParquetUpsertSink(
      Files.createTempDirectory("upsertonce").toString + "/lake", Seq("k"), nBuckets = 4)
    val q = input.toDF().toDF("k", "v").groupBy("k").agg(sum("v").as("total"))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("upsertonceck").toString)
      .foreachBatch((batch: DataFrame, _: Long) => sink.upsert(batch))
      .start()
    // every execution of the aggregation in a micro-batch adds that
    // batch's updated keys to numRowsUpdated again
    def updatedRows(): Long = {
      q.processAllAvailable()
      q.lastProgress.stateOperators(0).numRowsUpdated
    }
    try {
      input.addData(("a", 1L), ("b", 2L), ("c", 3L))
      assert(updatedRows() === 3L, "the upstream aggregation ran more than once in batch 1")
      // batch 2 merges into the lake's existing rows: two keys change
      input.addData(("a", 10L), ("d", 4L))
      assert(updatedRows() === 2L, "the upstream aggregation ran more than once in batch 2")
    } finally q.stop()
    assert(sink.snapshot(spark).as[(String, Long)].collect().toMap ===
      Map("a" -> 11L, "b" -> 2L, "c" -> 3L, "d" -> 4L))
  }

  test("binaryFile source ingests raw media dirs into the decode seam") {
    import graft.operators.{Multimodal, DeterministicFakeDecoder}
    val dir = Files.createTempDirectory("media")
    Files.write(dir.resolve("a.jpg"), "fake-image-bytes".getBytes)
    Files.write(dir.resolve("b.wav"), "fake-audio-bytes-longer".getBytes)
    // uppercase extension must normalize to the same kind as a.jpg
    Files.write(dir.resolve("c.JPG"), "fake-image-bytes-upper".getBytes)
    Files.write(dir.resolve("skip.txt"), "not-media".getBytes)
    val records = Multimodal.fromBinaryFiles(spark, dir.toString, glob = "*.{jpg,JPG,wav}")
      .collect().sortBy(r => (r.kind, r.n_bytes))
    assert(records.map(_.kind).toSeq === Seq("jpg", "jpg", "wav"))
    assert(records.forall(r => r.n_bytes == r.payload.length.toLong))
    // the same decoder seam applies to file-ingested records
    val feats = Multimodal.decodeFeatures(
      Multimodal.fromBinaryFiles(spark, dir.toString, glob = "*.{jpg,wav}")).collect()
    assert(feats.length == 2 && feats.forall(_.checksum > 0))
    val direct = DeterministicFakeDecoder.decode(records.head)
    assert(feats.map(_.checksum).contains(direct.checksum))
  }

  test("small-file compaction preserves rows and cuts file count") {
    import graft.sinks.Compaction
    val out = Files.createTempDirectory("frag").toString + "/t"
    // fragment: 64 tiny files
    spark.range(1000).repartition(64).write.parquet(out)
    val before = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 32, s"fixture not fragmented: $before")
    Compaction.compact(spark, out, targetFiles = 2)
    val after = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after <= 2, s"still fragmented: $after")
    assert(spark.read.parquet(out).count() === 1000L)
  }

  test("compacting an upsert lake preserves the bucket layout and later merges") {
    import spark.implicits._
    import graft.sinks.{Compaction, ParquetUpsertSink}
    val path = Files.createTempDirectory("pqlake").toString + "/store"
    val sink = new ParquetUpsertSink(path, Seq("cell"), nBuckets = 4)
    // fragment: many single-key batches -> one file-set per batch per bucket
    (1 to 8).foreach(i => sink.upsert(Seq((i, i.toLong)).toDF("cell", "cnt")))
    Compaction.compact(spark, path, targetFiles = 4)
    // layout must STILL be bucket= dirs (a flat rewrite would corrupt the
    // sink's existing-row lookups and break partition discovery)
    val entries = new java.io.File(path).listFiles().map(_.getName)
    assert(entries.forall(_.startsWith("bucket=")), entries.mkString(","))
    assert(sink.snapshot(spark).as[(Int, Long)].collect().toSet
      === (1 to 8).map(i => (i, i.toLong)).toSet)
    // post-compaction merges still see the compacted rows
    sink.upsert(Seq((3, 33L)).toDF("cell", "cnt"))
    assert(sink.snapshot(spark).as[(Int, Long)].collect().toSet
      === ((1 to 8).toSet - 3).map(i => (i, i.toLong)) + ((3, 33L)))
  }

  test("a lake snapshot read runs one job: the schema comes from a footer, not inference") {
    import spark.implicits._
    import graft.sinks.ParquetUpsertSink
    val path = Files.createTempDirectory("footerlake").toString + "/store"
    val sink = new ParquetUpsertSink(path, Seq("cell"), nBuckets = 4)
    sink.upsert((1 to 12).map(i => (i, i.toLong, s"t$i")).toDF("cell", "cnt", "tag"))
    // empty the lowest bucket: the first data file sits past an empty dir
    val low = (1 to 12).groupBy(i => sink.bucketIdsOf(Seq(i).toDF("cell")).head).minBy(_._1)._2
    sink.upsert(spark.emptyDataset[(Int, Long, String)].toDF("cell", "cnt", "tag"),
      deletes = low.map(i => (i, 0L, "")).toDF("cell", "cnt", "tag"))
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsOf(spark) { rows = sink.snapshot(spark).collect() }
    assert(jobs.length === 1, jobs.flatMap(_.stageInfos.map(_.name)).mkString(", "))
    assert(rows.map(_.getInt(0)).toSet === (1 to 12).toSet -- low)
    assert(sink.snapshot(spark).schema === spark.read.parquet(path).drop("bucket").schema)
  }

  test("snapshot reads a bucket's bak copy when a crash tore its publish") {
    import spark.implicits._
    import graft.sinks.ParquetUpsertSink
    val path = Files.createTempDirectory("tornlake").toString + "/store"
    val sink = new ParquetUpsertSink(path, Seq("k"), nBuckets = 2)
    sink.upsert(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    val full = sink.snapshot(spark).as[(String, Long)].collect().toSet
    assert(full === Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // simulate a crash inside DirPublish.publish: live dir renamed aside,
    // replacement never arrived — only .bak-bucket=N remains on disk
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = fs.listStatus(root).map(_.getPath)
      .find(_.getName.startsWith("bucket=")).get
    assert(fs.rename(torn, new org.apache.hadoop.fs.Path(root, s".bak-${torn.getName}")))
    // a plain recursive parquet read would skip the dot-dir and drop rows
    assert(sink.snapshot(spark).as[(String, Long)].collect().toSet === full,
      "snapshot dropped the torn bucket instead of reading its bak copy")
  }

  test("composite upsert keys: delimiter inside a field and NULLs stay distinct") {
    import spark.implicits._
    import graft.sinks.{MemoryUpsertSink, ParquetUpsertSink}
    // a ':'-joined key renders both of these as "a:b:c" and merges them
    val path = Files.createTempDirectory("keylake").toString + "/store"
    val sink = new ParquetUpsertSink(path, Seq("k1", "k2"), nBuckets = 2)
    sink.upsert(Seq(("a:b", "c", 1L), ("a", "b:c", 2L), (null, "b:c", 3L))
      .toDF("k1", "k2", "v"))
    assert(sink.snapshot(spark).as[(String, String, Long)].collect().toSet
      === Set(("a:b", "c", 1L), ("a", "b:c", 2L), ((null: String), "b:c", 3L)))
    // deleting one of the would-be-colliding keys must not take the other
    sink.upsert(spark.emptyDataset[(String, String, Long)].toDF("k1", "k2", "v"),
      deletes = Seq(("a:b", "c", 0L)).toDF("k1", "k2", "v"))
    assert(sink.snapshot(spark).as[(String, String, Long)].collect().toSet
      === Set(("a", "b:c", 2L), ((null: String), "b:c", 3L)))

    val mem = new MemoryUpsertSink(Seq("k1", "k2"))
    mem.upsertBatch(Seq(("a:b", "c", 1L), ("a", "b:c", 2L)).toDF("k1", "k2", "v"))
    assert(mem.size === 2)
    // a NULL key field is distinct from the literal string "null"
    val memNull = new MemoryUpsertSink(Seq("k1"))
    memNull.upsertBatch(Seq(("null", 1L), (null, 2L)).toDF("k1", "v"))
    assert(memNull.size === 2)
  }

  test("KeyCodec row rendering is injective over arbitrary key tuples (property)") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    import graft.sinks.KeyCodec
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val schema = StructType(Seq(StructField("k1", StringType), StructField("k2", StringType)))
    val fields = Seq("k1", "k2")
    def row(a: String, b: String) =
      new GenericRowWithSchema(Array[Any](a, b), schema): org.apache.spark.sql.Row
    // adversarial alphabet: delimiter chars, digits (could blur into the
    // length prefix), the v/n tags themselves, nulls
    val part = Gen.oneOf(
      Gen.const(null: String),
      Gen.listOf(Gen.oneOf(':', 'v', 'n', '1', '2', 'a', 'b')).map(_.mkString))
    val prop = Prop.forAll(part, part, part, part) { (a1, a2, b1, b2) =>
      val same = (a1 == b1) && (a2 == b2)
      (KeyCodec.render(row(a1, a2), fields) == KeyCodec.render(row(b1, b2), fields)) == same
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, s"KeyCodec injectivity falsified: ${res.status}")
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    val out = Files.createTempDirectory("evolve").toString + "/t"
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v1").write.parquet(out)
    Seq((2L, "b", 9L)).toDF("id", "v1", "v2").write.mode("append").parquet(out)
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.sorted.toSeq === Seq("id", "v1", "v2"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getLong(2) === 9L) // old files read v2 as null
  }

  test("substring stream: verdicts across batch boundaries equal the one-shot batch form") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    Dedup.persistWindowTable(spark, Sf0001, "corpus_wins_s", buckets = 4)
    try {
      val incoming = spark.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 >= 8)
        .select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(incoming.length > 1)
      val (first, second) = incoming.splitAt(incoming.length / 2)
      val input = MemoryStream[(Long, String)](spark)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Boolean)]
      val q = Dedup.substringStream(
        input.toDF().toDF("doc_id", "text"), "corpus_wins_s") { verdicts =>
        got ++= verdicts.as[(Long, Long, Long, Double, Boolean)].collect(); ()
      }
      try {
        input.addData(first.toSeq); q.processAllAvailable()
        input.addData(second.toSeq); q.processAllAvailable()
      } finally q.stop()
      // fixed corpus table -> batch boundaries must not change verdicts
      val batch = Dedup.substringIncremental(spark, Sf0001)
        .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
      assert(got.sortBy(_._1).toSeq === batch.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS corpus_wins_s"); ()
    }
  }

  test("incremental scrub cuts corpus-known spans from new docs, leaves novel text intact") {
    import graft.operators.Dedup
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val s2 = spark.newSession()
    Dedup.persistWindowTable(s2, Sf0001, "corpus_wins_x", buckets = 4)
    try {
      import s2.implicits._
      // pick a corpus doc long enough to carry anchored windows
      val corpusDoc = s2.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 < 8)
        .select("doc_id", "text").as[(Long, String)].collect()
        .filter(_._2.split(" ", -1).length >= 4 * Dedup.SubstrWindow)
        .minBy(_._1)
      val novel = (1 to 3 * Dedup.SubstrWindow).map(i => s"novelword$i%02d").mkString(" ")
      val batch = Seq(
        (900001L, corpusDoc._2),                    // verbatim corpus clone
        (900002L, novel),                           // fully novel
        (900003L, corpusDoc._2 + " " + novel))      // boilerplate + new tail
        .toDF("doc_id", "text")
      val got = Dedup.substringScrubAgainst(batch, s2.table("corpus_wins_x"))
        .as[(Long, Long, Long, Long, String)].collect()
        .map(r => r._1 -> r).toMap
      // the clone loses every anchored-window-covered token
      assert(got(900001L)._4 > 0, "clone must lose corpus-covered spans")
      // the novel doc is byte-identical
      val (_, n2, k2, d2, h2) = got(900002L)
      assert(d2 === 0 && k2 === n2 && h2 === md5hex(novel))
      // the mixed doc loses at least the clone's coverage but keeps a tail
      assert(got(900003L)._4 >= got(900001L)._4 && got(900003L)._3 > 0)
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_wins_x"); ()
    }
  }

  test("window-table compaction folds per-append files to one per bucket, drops replay dups") {
    import graft.operators.Dedup
    import spark.implicits._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Dedup.persistWindowTable(s2, Sf0001, "corpus_wins_c", buckets = 4)
    try {
      val batch = s2.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 === 8).select("doc_id", "text")
      // pin the pre-append verdicts eagerly: a lazy plan would re-evaluate
      // against the grown table on the replayed admit (keepers match
      // themselves) and admit nothing the second time
      val v = Dedup.substringVerdictFor(batch, s2.table("corpus_wins_c"))
        .localCheckpoint(true)
      // admit the same batch twice (at-least-once replay): duplicate rows land
      assert(Dedup.admitWindows(batch, v, "corpus_wins_c") > 0)
      assert(Dedup.admitWindows(batch, v, "corpus_wins_c") > 0)
      val beforeRows = s2.table("corpus_wins_c").count()
      val distinctRows = s2.table("corpus_wins_c").distinct().count()
      assert(beforeRows > distinctRows, "replay should have produced duplicate rows")
      val (filesBefore, filesAfter) = Dedup.compactWindowTable(s2, "corpus_wins_c")
      assert(filesBefore > 4 && filesAfter === 4L, s"$filesBefore -> $filesAfter")
      assert(s2.table("corpus_wins_c").count() === distinctRows)
      // verdicts unchanged by compaction, and the scan is still bucketed
      val probe = Dedup.windowHashesOf(batch).join(s2.table("corpus_wins_c"), "whash")
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"))
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_wins_c")
      s2.sql("DROP TABLE IF EXISTS corpus_wins_c_compact_tmp"); ()
    }
  }

  test("substring dedup against a persisted window table: same verdicts, corpus joins in place") {
    import graft.operators.Dedup
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Dedup.persistWindowTable(s2, Sf0001, "corpus_wins_t", buckets = 4)
    try {
      val fromTable = Dedup.substringAgainst(s2, Sf0001, "corpus_wins_t").collect()
      val derived = Dedup.substringIncremental(s2, Sf0001).collect()
      assert(fromTable.toSeq === derived.toSeq)
      // the membership join must move only the batch's windows: exactly
      // one whash exchange (incoming side); the bucketed corpus scan
      // joins in place
      val marked = Dedup.windowHashesOf(
        s2.read.parquet(s"$Sf0001/documents.parquet")
          .filter(col("doc_id") % 10 >= 8).select("doc_id", "text"))
        .join(s2.table("corpus_wins_t"), "whash")
      marked.collect()
      val plan = marked.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val nWhashExchanges = "Exchange hashpartitioning\\(whash".r
        .findAllIn(plan).length
      assert(nWhashExchanges === 1,
        s"expected only the incoming side to shuffle on whash, got $nWhashExchanges:\n${plan.take(1500)}")
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_wins_t"); ()
    }
  }

  test("verdict membership semantics: duplicated corpus rows never inflate counts") {
    import graft.operators.Dedup
    import spark.implicits._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Dedup.persistWindowTable(s2, Sf0001, "corpus_wins_d", buckets = 4)
    try {
      // a batch with partial corpus overlap (the 8s share boilerplate with
      // the persisted corpus); pin verdicts so the replayed admit below
      // doesn't re-evaluate against the grown table
      val batch = s2.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 === 8).select("doc_id", "text")
      val v = Dedup.substringVerdictFor(batch, s2.table("corpus_wins_d"))
        .localCheckpoint(true)
      assert(Dedup.admitWindows(batch, v, "corpus_wins_d") > 0)
      val afterOnce = Dedup.substringAgainst(s2, Sf0001, "corpus_wins_d").collect()
      // replay the same admission (at-least-once delivery): every keeper
      // whash now has a duplicate row in the table, pre-compaction
      assert(Dedup.admitWindows(batch, v, "corpus_wins_d") > 0)
      val tbl = s2.table("corpus_wins_d")
      assert(tbl.count() > tbl.distinct().count(), "replay should duplicate rows")
      // the admitWindows docstring contract: duplicate hash rows across
      // appends don't change verdicts (membership join)
      val afterTwice = Dedup.substringAgainst(s2, Sf0001, "corpus_wins_d").collect()
      assert(afterTwice.toSeq === afterOnce.toSeq,
        "duplicated corpus rows inflated verdict counts")
      // and n_windows is always the batch's OWN window count — a
      // row-multiplying corpus join would inflate it after any admission
      val ownWins = Dedup.windowHashesOf(
        s2.read.parquet(s"$Sf0001/documents.parquet")
          .filter(col("doc_id") % 10 >= 8).select("doc_id", "text"))
        .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
      Dedup.substringAgainst(s2, Sf0001, "corpus_wins_d")
        .select("doc_id", "n_windows").as[(Long, Long)].collect()
        .foreach { case (id, n) =>
          assert(n === ownWins.getOrElse(id, 0L), s"n_windows multiplied for doc $id")
        }
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_wins_d"); ()
    }
  }

  test("window-table admission: a clone of an admitted doc is flagged by the next batch") {
    import graft.operators.Dedup
    import spark.implicits._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Dedup.persistWindowTable(s2, Sf0001, "corpus_wins_a", buckets = 4)
    try {
      val batch1 = s2.read.parquet(s"$Sf0001/documents.parquet")
        .filter(col("doc_id") % 10 === 8).select("doc_id", "text")
      val v1 = Dedup.substringVerdictFor(batch1, s2.table("corpus_wins_a"))
      val v1Rows = v1.select("doc_id", "flag_dup", "n_windows")
        .as[(Long, Boolean, Long)].collect()
      val nKept = v1Rows.count(!_._2).toLong
      assert(nKept > 0)
      assert(Dedup.admitWindows(batch1, v1, "corpus_wins_a") === nKept)
      // clone of an admitted keeper under a fresh id: every window of the
      // clone now exists in the table, so it must be fully duplicated
      // (keeper chosen WITH windows — a sub-window doc would be vacuous)
      val keeperId = v1Rows.filter(r => !r._2 && r._3 > 0).map(_._1).min
      val clone = batch1.filter(col("doc_id") === keeperId)
        .select(lit(88000001L).as("doc_id"), col("text"))
      val v2 = Dedup.substringVerdictFor(clone, s2.table("corpus_wins_a"))
        .select("doc_id", "dup_ratio", "flag_dup").as[(Long, Double, Boolean)].collect()
      assert(v2.length === 1 && v2.head._2 === 1.0 && v2.head._3,
        s"admitted keeper's clone should be fully duplicated, got ${v2.toSeq}")
      // the grown table still scans bucketed
      val probe = Dedup.windowHashesOf(clone).join(s2.table("corpus_wins_a"), "whash")
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"),
        s"window table lost bucketing after append:\n${plan.take(1200)}")
    } finally {
      s2.sql("DROP TABLE IF EXISTS corpus_wins_a"); ()
    }
  }

  test("ModelTables: a dir containing '#' cannot collide with a different (dir, params) pair") {
    import graft.core.ModelTables
    val s2 = spark.newSession()
    var builds = 0
    def build(): Unit = { builds += 1; s2.range(1).write.mode("overwrite").saveAsTable("mt_amb_t") }
    // "d#p" with no params and "d" with params "p" joined to the same
    // string under the old dir+'#'+params encoding — the second persist
    // would spuriously skip and serve a model trained on the wrong source
    ModelTables.persistIfStale(s2, "d#p", "mt_amb_t", "")(build())
    try {
      assert(builds === 1)
      assert(ModelTables.isCurrent(s2, "mt_amb_t", "d#p", ""))
      assert(!ModelTables.isCurrent(s2, "mt_amb_t", "d", "p"))
      ModelTables.persistIfStale(s2, "d", "mt_amb_t", "p")(build())
      assert(builds === 2, "colliding key skipped the rebuild")
      // and the no-collision skip still works
      ModelTables.persistIfStale(s2, "d", "mt_amb_t", "p")(build())
      assert(builds === 2, "current model was rebuilt")
    } finally { s2.sql("DROP TABLE IF EXISTS mt_amb_t"); () }
  }

  test("ModelTables: rewriting the source dir in place invalidates the persisted model") {
    import graft.core.ModelTables
    val s2 = spark.newSession()
    val src = Files.createTempDirectory("mt_src").toString
    var builds = 0
    def build(): Unit = { builds += 1; s2.range(1).write.mode("overwrite").saveAsTable("mt_fp_t") }
    s2.range(10).write.mode("overwrite").parquet(src)
    ModelTables.persistIfStale(s2, src, "mt_fp_t", "p")(build())
    try {
      assert(builds === 1)
      // same content -> still current, no rebuild
      ModelTables.persistIfStale(s2, src, "mt_fp_t", "p")(build())
      assert(builds === 1, "unchanged dir triggered a rebuild")
      // overwrite the SAME path with different data (the Stress20x
      // pattern) — dir identity is unchanged, content is not; the stale
      // model must not be served
      s2.range(20).write.mode("overwrite").parquet(src)
      assert(!ModelTables.isCurrent(s2, "mt_fp_t", src, "p"),
        "rewritten dir still reported the old model as current")
      ModelTables.persistIfStale(s2, src, "mt_fp_t", "p")(build())
      assert(builds === 2, "rewritten dir did not force a refit")
    } finally { s2.sql("DROP TABLE IF EXISTS mt_fp_t"); () }
  }

  test("bucketedJoin rebuilds its bucketed layout when a source file is rewritten in place") {
    import spark.implicits._
    val src = Files.createTempDirectory("bkt_src")
    Seq("orders", "lineitem").foreach(n => Files.copy(
      java.nio.file.Paths.get(Sf0001, s"$n.parquet"), src.resolve(s"$n.parquet")))
    def read(n: String) = spark.read.parquet(src.resolve(s"$n.parquet").toString)
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderpriority", "n_orders", "n_items").as[(String, Long, Long)]
        .collect().sortBy(_._1).toList
    def bucketed() = counts(graft.operators.Relational.bucketedJoin(spark, src.toString))
    try {
      val before = bucketed()
      // rewrite orders.parquet in place, keeping every other order: the
      // dir name is unchanged, its content is not
      val half = Files.createTempDirectory("bkt_half").resolve("orders.parquet")
      read("orders").filter(col("o_orderkey") % 2 === 0).write.parquet(half.toString)
      Files.delete(src.resolve("orders.parquet"))
      Files.move(half, src.resolve("orders.parquet"))
      val expected = counts(read("orders").join(read("lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_orderkey")).as("n_orders"), count(lit(1)).as("n_items")))
      assert(expected !== before)
      assert(bucketed() === expected, "bucketedJoin served the layout of the old orders.parquet")
    } finally dropTables("graft_bkt_orders", "graft_bkt_lineitem")
  }

  test("ModelTables: a failure between group writes leaves the whole group stale") {
    import graft.core.ModelTables
    val s2 = spark.newSession()
    var aBuilds = 0; var bBuilds = 0
    def buildA(): Unit = { aBuilds += 1; s2.range(1).write.mode("overwrite").saveAsTable("mt_grp_a") }
    def buildB(): Unit = { bBuilds += 1; s2.range(2).write.mode("overwrite").saveAsTable("mt_grp_b") }
    // first attempt dies after table A is written but before B
    intercept[RuntimeException] {
      ModelTables.persistGroupIfStale(s2, "d", "p")(
        "mt_grp_a" -> (() => buildA()),
        "mt_grp_b" -> (() => { sys.error("sink died") }))
    }
    try {
      assert(aBuilds === 1)
      // A exists but is UNSTAMPED — the half-written group must read as
      // stale, not as a current model paired with a missing base
      assert(!ModelTables.isCurrent(s2, "mt_grp_a", "d", "p"),
        "half-written group member stamped as current")
      // retry rebuilds BOTH members and stamps both
      ModelTables.persistGroupIfStale(s2, "d", "p")(
        "mt_grp_a" -> (() => buildA()),
        "mt_grp_b" -> (() => buildB()))
      assert(aBuilds === 2 && bBuilds === 1, s"retry built ($aBuilds, $bBuilds), expected (2, 1)")
      assert(ModelTables.isCurrent(s2, "mt_grp_a", "d", "p"))
      assert(ModelTables.isCurrent(s2, "mt_grp_b", "d", "p"))
      // and a current group is a pure metadata probe
      ModelTables.persistGroupIfStale(s2, "d", "p")(
        "mt_grp_a" -> (() => buildA()),
        "mt_grp_b" -> (() => buildB()))
      assert(aBuilds === 2 && bBuilds === 1, "current group was rebuilt")
    } finally {
      s2.sql("DROP TABLE IF EXISTS mt_grp_a")
      s2.sql("DROP TABLE IF EXISTS mt_grp_b"); ()
    }
  }

  test("ModelTables: an unlistable source dir is never current (always rebuilds)") {
    import graft.core.ModelTables
    val s2 = spark.newSession()
    // no FileSystem for this scheme -> the listing throws -> the content
    // fingerprint must be a unique sentinel, so a model stamped while its
    // source was unverifiable can never be served as current later
    val badDir = "nosuchscheme://host/data"
    var builds = 0
    def build(): Unit = { builds += 1; s2.range(1).write.mode("overwrite").saveAsTable("mt_unr_t") }
    try {
      ModelTables.persistIfStale(s2, badDir, "mt_unr_t", "p")(build())
      assert(builds === 1)
      assert(!ModelTables.isCurrent(s2, "mt_unr_t", badDir, "p"),
        "model stamped from an unlistable dir reported current")
      ModelTables.persistIfStale(s2, badDir, "mt_unr_t", "p")(build())
      assert(builds === 2, "unverifiable source skipped the rebuild")
    } finally { s2.sql("DROP TABLE IF EXISTS mt_unr_t"); () }
  }

  test("ModelTables: rewriting a partition SUBDIR invalidates despite the root-listing memo guard") {
    import graft.core.ModelTables
    val s2 = spark.newSession()
    val src = Files.createTempDirectory("mt_sub").toString
    var builds = 0
    def build(): Unit = { builds += 1; s2.range(1).write.mode("overwrite").saveAsTable("mt_sub_t") }
    // partitioned layout: data lives under part=*/ subdirs, so the
    // memo's non-recursive root guard sees only the subdir entries
    s2.range(10).withColumn("part", org.apache.spark.sql.functions.lit(0))
      .write.partitionBy("part").mode("overwrite").parquet(src)
    ModelTables.persistIfStale(s2, src, "mt_sub_t", "p")(build())
    try {
      assert(builds === 1)
      ModelTables.persistIfStale(s2, src, "mt_sub_t", "p")(build())
      assert(builds === 1, "unchanged partitioned dir triggered a rebuild")
      // rewrite ONE partition in place: root entry names are unchanged,
      // but the subdir's mtime moves -> guard must miss -> refit
      s2.range(99).withColumn("part", org.apache.spark.sql.functions.lit(0))
        .write.partitionBy("part").mode("overwrite").parquet(src)
      assert(!ModelTables.isCurrent(s2, "mt_sub_t", src, "p"),
        "rewritten partition subdir still reported the old model as current")
      ModelTables.persistIfStale(s2, src, "mt_sub_t", "p")(build())
      assert(builds === 2, "rewritten partition subdir did not force a refit")
    } finally { s2.sql("DROP TABLE IF EXISTS mt_sub_t"); () }
  }

  test("ModelTables: dynamic overwrite of a NESTED leaf partition invalidates (guard depth)") {
    import graft.core.ModelTables
    import org.apache.spark.sql.functions.lit
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val src = Files.createTempDirectory("mt_nst").toString
    var builds = 0
    def build(): Unit = { builds += 1; s2.range(1).write.mode("overwrite").saveAsTable("mt_nst_t") }
    // TWO-LEVEL partitioning: data under a=*/b=*/ — a dir's mtime only
    // moves when its DIRECT children change, so a root-only (or even
    // root+level-1-mtimes-only) guard can't see a leaf rewrite two
    // levels down; the memo must either look deep enough or disable
    // itself for this layout.
    s2.range(10).withColumn("a", lit(0)).withColumn("b", lit(0))
      .write.partitionBy("a", "b").mode("overwrite").parquet(src)
    ModelTables.persistIfStale(s2, src, "mt_nst_t", "p")(build())
    try {
      assert(builds === 1)
      ModelTables.persistIfStale(s2, src, "mt_nst_t", "p")(build())
      assert(builds === 1, "unchanged nested-partitioned dir triggered a rebuild")
      // dynamic partition overwrite replacing ONLY the a=0/b=0 leaf:
      // root entry (a=0) keeps its name/size/mtime
      s2.range(99).withColumn("a", lit(0)).withColumn("b", lit(0))
        .write.partitionBy("a", "b").mode("overwrite").parquet(src)
      assert(!ModelTables.isCurrent(s2, "mt_nst_t", src, "p"),
        "rewritten nested leaf partition still reported the old model as current")
      ModelTables.persistIfStale(s2, src, "mt_nst_t", "p")(build())
      assert(builds === 2, "rewritten nested leaf partition did not force a refit")
    } finally { s2.sql("DROP TABLE IF EXISTS mt_nst_t"); () }
  }

  test("bm25 admission: three admitted batches answer exactly like the batch-built index") {
    import graft.operators.TextAnalysis
    val s2 = spark.newSession()
    val tables = Seq("bm25a_post_t", "bm25a_df_t", "bm25a_stats_t")
    try {
      val d = graft.core.Tables.load(s2, Sf0001, "documents")
      // admit three disjoint batches into an initially-empty index
      (0 to 2).foreach(k => TextAnalysis.bm25AdmitDocs(
        d.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === k),
        "bm25a_post_t", "bm25a_df_t", "bm25a_stats_t"))
      // generations really accumulated (no silent overwrite)
      assert(s2.table("bm25a_stats_t").count() === 3)
      val q = d.selectExpr("doc_id", "split(text, '\\\\s+') AS tk")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 37 === 0)
        .selectExpr("doc_id AS query_id",
          "explode(array_distinct(slice(tk, 1, 4))) AS token")
      val grown = TextAnalysis.bm25SearchAgainst(s2, q,
        "bm25a_post_t", "bm25a_df_t", "bm25a_stats_t").collect()
      assert(grown.toSeq === TextAnalysis.bm25Topk(s2, Sf0001).collect().toSeq)
    } finally { tables.foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t")); () }
  }

  test("bm25 compaction repairs an at-least-once replayed admission and folds generations") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    val tables = ("bm25c_post_t", "bm25c_df_t", "bm25c_stats_t")
    val all = Seq(tables._1, tables._2, tables._3, tables._2 + "_compact_tmp",
      tables._3 + "_compact_tmp")
    try {
      val d = graft.core.Tables.load(s2, Sf0001, "documents")
      (0 to 2).foreach(k => TextAnalysis.bm25AdmitDocs(
        d.filter(col("doc_id") % 3 === k), tables._1, tables._2, tables._3))
      // the redelivery a real at-least-once source produces: batch 1 again
      TextAnalysis.bm25AdmitDocs(
        d.filter(col("doc_id") % 3 === 1), tables._1, tables._2, tables._3)
      val q = d.selectExpr("doc_id", "split(text, '\\\\s+') AS tk")
        .filter(col("doc_id") % 37 === 0)
        .selectExpr("doc_id AS query_id",
          "explode(array_distinct(slice(tk, 1, 4))) AS token")
      val want = TextAnalysis.bm25Topk(s2, Sf0001).collect().toSeq
      // duplicate delivery really corrupts the scores (repair is not a no-op)
      val corrupted = TextAnalysis
        .bm25SearchAgainst(s2, q, tables._1, tables._2, tables._3).collect().toSeq
      assert(corrupted !== want, "replayed batch should have skewed the scores")
      val (before, after) =
        TextAnalysis.compactBm25Index(s2, tables._1, tables._2, tables._3)
      assert(after <= before)
      assert(s2.table(tables._3).count() === 1, "stats generations must fold to one")
      val repaired = TextAnalysis
        .bm25SearchAgainst(s2, q, tables._1, tables._2, tables._3).collect().toSeq
      assert(repaired === want)
    } finally { all.foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t")); () }
  }

  test("ivf compaction repairs an at-least-once replayed vector admission") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    val table = "ivfc_index_t"
    try {
      val e = graft.core.Tables.load(s2, Sf0001, "embeddings")
      (0 to 2).foreach(k =>
        Similarity.ivfAdmitVectors(e.filter(col("vec_id") % 3 === k), table))
      val want = Similarity.ivfTopk(s2, Sf0001).collect().toSeq
      assert(Similarity.ivfTopkAgainst(s2, Sf0001, table).collect().toSeq === want,
        "cleanly admitted index must equal the batch-built answer")
      // the redelivery a real at-least-once source produces: batch 1 again
      Similarity.ivfAdmitVectors(e.filter(col("vec_id") % 3 === 1), table)
      val corrupted = Similarity.ivfTopkAgainst(s2, Sf0001, table).collect().toSeq
      assert(corrupted !== want,
        "duplicated vectors should have corrupted the top-k (repair is not a no-op)")
      val (before, after) = Similarity.compactIvfIndex(s2, table)
      assert(after <= before)
      assert(Similarity.ivfTopkAgainst(s2, Sf0001, table).collect().toSeq === want)
    } finally {
      s2.sql(s"DROP TABLE IF EXISTS $table")
      s2.sql(s"DROP TABLE IF EXISTS ${table}_compact_tmp"); ()
    }
  }

  test("bm25 compaction recovers a torn derived-table swap: finished temp promoted, then repairs") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    val t = ("bm25t_post_t", "bm25t_df_t", "bm25t_stats_t")
    val all = Seq(t._1, t._2, t._3, t._2 + "_compact_tmp", t._3 + "_compact_tmp")
    try {
      val d = graft.core.Tables.load(s2, Sf0001, "documents")
      (0 to 1).foreach(k => TextAnalysis.bm25AdmitDocs(
        d.filter(col("doc_id") % 2 === k), t._1, t._2, t._3))
      // simulate the crash window: a previous compaction finished writing
      // the df temp, dropped the canonical df table, and died before the
      // rename — searches would now fail on the missing table
      val dfRows = s2.table(t._2).groupBy("token")
        .agg(org.apache.spark.sql.functions.sum("df").cast("bigint").as("df"))
      dfRows.write.saveAsTable(t._2 + "_compact_tmp")
      s2.sql(s"DROP TABLE ${t._2}")
      // recovery: the promotion guard must complete the swap, then the
      // normal repair runs — the repaired index answers like batch
      TextAnalysis.compactBm25Index(s2, t._1, t._2, t._3)
      assert(s2.table(t._3).count() === 1)
      val q = d.selectExpr("doc_id", "split(text, '\\\\s+') AS tk")
        .filter(col("doc_id") % 37 === 0)
        .selectExpr("doc_id AS query_id",
          "explode(array_distinct(slice(tk, 1, 4))) AS token")
      assert(TextAnalysis.bm25SearchAgainst(s2, q, t._1, t._2, t._3).collect().toSeq
        === TextAnalysis.bm25Topk(s2, Sf0001).collect().toSeq)
    } finally { all.foreach(x => s2.sql(s"DROP TABLE IF EXISTS $x")); () }
  }

  test("bm25 search detects a compaction torn between postings and df rebuild, auto-repairs") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    val t = ("bm25m_post_t", "bm25m_df_t", "bm25m_stats_t")
    val all = Seq(t._1, t._2, t._3, t._2 + "_compact_tmp", t._3 + "_compact_tmp")
    try {
      val d = graft.core.Tables.load(s2, Sf0001, "documents")
      (0 to 2).foreach(k => TextAnalysis.bm25AdmitDocs(
        d.filter(col("doc_id") % 3 === k), t._1, t._2, t._3))
      // at-least-once redelivery so the compaction actually changes state
      TextAnalysis.bm25AdmitDocs(
        d.filter(col("doc_id") % 3 === 1), t._1, t._2, t._3)
      val q = d.selectExpr("doc_id", "split(text, '\\\\s+') AS tk")
        .filter(col("doc_id") % 37 === 0)
        .selectExpr("doc_id AS query_id",
          "explode(array_distinct(slice(tk, 1, 4))) AS token")
      val want = TextAnalysis.bm25Topk(s2, Sf0001).collect().toSeq
      // crash INSIDE the fenced window: postings rewritten + deduped,
      // df/stats still holding the doubled partials
      val boom = intercept[RuntimeException] {
        TextAnalysis.compactBm25IndexHooked(s2, t._1, t._2, t._3)(
          () => throw new RuntimeException("injected crash"))
      }
      assert(boom.getMessage === "injected crash")
      assert(TextAnalysis.bm25CompactionTorn(s2, t._1),
        "the in-progress marker must survive the crash")
      // the index IS inconsistent right now: deduped postings, inflated
      // df/stats. A search must not score against that silently — it
      // repairs first and lands exactly on the batch answer.
      val got = TextAnalysis
        .bm25SearchAgainst(s2, q, t._1, t._2, t._3).collect().toSeq
      assert(got === want)
      assert(!TextAnalysis.bm25CompactionTorn(s2, t._1),
        "the repair must clear the marker")
      // and the repaired index keeps answering without further repairs
      assert(TextAnalysis.bm25SearchAgainst(s2, q, t._1, t._2, t._3)
        .collect().toSeq === want)
    } finally { all.foreach(x => s2.sql(s"DROP TABLE IF EXISTS $x")); () }
  }

  test("bm25 against the persisted index: same rows, literal terms prune postings buckets") {
    import graft.operators.TextAnalysis
    val s2 = spark.newSession()
    val tables = Seq("bm25_post_t", "bm25_df_t", "bm25_stats_t")
    TextAnalysis.persistBm25Index(s2, Sf0001, "bm25_post_t", "bm25_df_t", "bm25_stats_t")
    try {
      // index path must reproduce the inline derive-everything path exactly
      val inline = TextAnalysis.bm25Topk(s2, Sf0001).collect()
      val q = graft.core.Tables.load(s2, Sf0001, "documents")
        .selectExpr("doc_id", "split(text, '\\\\s+') AS tk")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 37 === 0)
        .selectExpr("doc_id AS query_id",
          "explode(array_distinct(slice(tk, 1, 4))) AS token")
      val fromIdx = TextAnalysis.bm25SearchAgainst(s2, q,
        "bm25_post_t", "bm25_df_t", "bm25_stats_t")
      assert(fromIdx.collect().toSeq === inline.toSeq)
      // a small search must NOT read the whole postings table: the literal
      // term predicate prunes buckets in the scan
      val narrow = q.filter(org.apache.spark.sql.functions.col("query_id") === 0)
      val p = TextAnalysis.bm25SearchAgainst(s2, narrow,
          "bm25_post_t", "bm25_df_t", "bm25_stats_t")
        .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(p)
      assert(sel.isDefined, s"no bucket pruning on the postings scan:\n${p.take(1200)}")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"4-term search read every postings bucket: ${sel.get.matched}")
    } finally { tables.foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t")); () }
  }

  test("generation-pointer serving: searches run concurrently with fired rewrites, every answer is one generation's") {
    import graft.operators.TextAnalysis
    val base = "sspec_bm25gen"
    def queries = TextAnalysis.bm25QueriesOf(TextAnalysis.bm25Corpus(spark, Sf0001))
    def search(): Seq[String] =
      TextAnalysis.bm25SearchAgainstGen(spark, queries, base)
        .collect().map(_.toString).sorted.toSeq
    def forgetA(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("doc_id") % 17 =!= 3)
    def forgetB(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("doc_id") % 11 =!= 0)
    TextAnalysis.bm25GenDropAll(spark, base)
    try {
      // expected per-generation answers, derived serially first
      TextAnalysis.bm25GenInit(spark, base, TextAnalysis.bm25Corpus(spark, Sf0001))
      val e0 = search()
      TextAnalysis.bm25GenRewrite(spark, base)(forgetA)
      val e1 = search()
      TextAnalysis.bm25GenRewrite(spark, base)(forgetB)
      val e2 = search()
      assert(e0 != e1 && e1 != e2,
        "the rewrites must change the answer or the spanning claim is vacuous")
      // fresh chain for the concurrent phase
      TextAnalysis.bm25GenDropAll(spark, base)
      TextAnalysis.bm25GenInit(spark, base, TextAnalysis.bm25Corpus(spark, Sf0001))
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val searches = new java.util.concurrent.atomic.AtomicInteger(0)
      val results = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val reader = new Thread(() => {
        try {
          // keep searching until the writer finished, then two more reads
          // that must see the final generation
          while (!done.get()) { results.synchronized { results += search() }; searches.incrementAndGet(); () }
          (1 to 2).foreach { _ => results.synchronized { results += search() }; () }
        } catch { case t: Throwable => readerErr.set(t) }
      })
      def awaitSearches(n: Int): Unit = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (searches.get() < n && readerErr.get() == null) {
          assert(System.nanoTime() < deadline, "reader made no progress")
          Thread.sleep(20)
        }
      }
      reader.start()
      try {
        // flip 1 fires while the reader is mid-loop on generation 0
        awaitSearches(2)
        TextAnalysis.bm25GenRewrite(spark, base)(forgetA)
        // let the reader finish any search that straddled flip 1 plus one
        // clean one, so no single search can span BOTH flips (the N-1
        // retention window is one rewrite wide by design)
        val after1 = searches.get()
        awaitSearches(after1 + 2)
        TextAnalysis.bm25GenRewrite(spark, base)(forgetB)
      } finally { done.set(true); reader.join(180000) }
      assert(readerErr.get() == null,
        s"a concurrent search failed: ${Option(readerErr.get()).map(_.toString).getOrElse("")}")
      val observed = results.synchronized { results.toList }
      val valid = Set(e0, e1, e2)
      observed.zipWithIndex.foreach { case (r, i) =>
        assert(valid.contains(r), s"search $i returned no generation's answer")
      }
      assert(observed.head === e0, "the pre-flip search must serve generation 0")
      assert(observed.last === e2, "the post-writer search must serve the final generation")
      assert(observed.distinct.size >= 2, "the reader never spanned a flip")
    } finally TextAnalysis.bm25GenDropAll(spark, base)
  }

  test("generation pointer: a torn rewrite is invisible, the next rewrite rebuilds it, the sweep keeps N-1") {
    import graft.operators.TextAnalysis
    val (base, clean) = ("sspec_bm25torn", "sspec_bm25clean")
    def queries = TextAnalysis.bm25QueriesOf(TextAnalysis.bm25Corpus(spark, Sf0001))
    def search(b: String): Seq[String] =
      TextAnalysis.bm25SearchAgainstGen(spark, queries, b)
        .collect().map(_.toString).sorted.toSeq
    def rows(t: String): Seq[String] =
      spark.table(t).collect().map(_.toString).sorted.toSeq
    def forget(m: Int)(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("doc_id") % m =!= 0)
    def markers(b: String): Set[String] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      new java.io.File(wh, s"$b.GEN").list().filter(_.startsWith("g=")).toSet
    }
    Seq(base, clean).foreach(TextAnalysis.bm25GenDropAll(spark, _))
    try {
      Seq(base, clean).foreach(b =>
        TextAnalysis.bm25GenInit(spark, b, TextAnalysis.bm25Corpus(spark, Sf0001)))
      val served0 = search(base)
      // the crash window: generation 1's tables are written (here a
      // partial postings table and a copied df), its marker never was
      val (p0, d0, _) = TextAnalysis.genTables(base, 0L)
      val (p1, d1, _) = TextAnalysis.genTables(base, 1L)
      spark.table(p0).filter(col("doc_id") % 2 === 0).write.saveAsTable(p1)
      spark.table(d0).write.saveAsTable(d1)
      assert(TextAnalysis.bm25GenCurrent(spark, base) === 0L)
      assert(search(base) === served0, "a search served the unpublished generation")
      // the next rewrite rebuilds generation 1 exactly as a clean chain does
      assert(TextAnalysis.bm25GenRewrite(spark, base)(forget(7)) === 1L)
      assert(TextAnalysis.bm25GenRewrite(spark, clean)(forget(7)) === 1L)
      val (bt, ct) = (TextAnalysis.genTables(base, 1L), TextAnalysis.genTables(clean, 1L))
      Seq(bt._1 -> ct._1, bt._2 -> ct._2, bt._3 -> ct._3).foreach { case (t, c) =>
        assert(rows(t) === rows(c), s"$t differs from $c")
      }
      assert(search(base) === search(clean))
      // two more rewrites: the pointer dir holds exactly {g-1, g}, and
      // the swept generations' tables are gone
      (2 to 3).foreach(i => TextAnalysis.bm25GenRewrite(spark, base)(forget(7 + i)))
      assert(markers(base) === Set("g=2", "g=3"))
      assert(!spark.catalog.tableExists(p0) && !spark.catalog.tableExists(p1))
    } finally Seq(base, clean).foreach(TextAnalysis.bm25GenDropAll(spark, _))
  }
}
