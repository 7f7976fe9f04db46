package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.sinks.UpsertKeys
import graft.streaming.{CascadeQ4, OverWindowState, StreamingQueries}
import graft.operators.TaxiQueries
import graft.sources.Rides
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Streaming semantics: windowed agg vs batch recompute, late-data
  * watermark behavior, the Q4 cascade's retract/add changelog replay, and
  * streaming-OVER state.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ride(id: Long, t: String, lon: Float = -73.99f, lat: Float = 40.75f): (Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short) =
    (id, true, Timestamp.valueOf(t), Timestamp.valueOf(t), lon, lat, lon, lat, 1.toShort)

  private def ridesDf(rows: Seq[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)]) =
    rows.toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))

  test("streaming Q1 tumbling agg (append on watermark) matches batch recompute") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))

    val q = StreamingQueries.q1Tumble(rides).writeStream
      .format("memory").queryName("q1_stream").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q1ck").toString)
      .start()

    // two windows of data, then advance event time far enough that the
    // watermark (61 s) closes both
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"),
      ride(3, "2013-01-01 00:11:00"))
    q.processAllAvailable()
    input.addData(ride(4, "2013-01-01 00:30:00")) // watermark -> 00:28:59
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("q1_stream")
      .select("cell", "dept_time", "dept_cnt").as[(Int, Long, Long)].collect().toSet
    val batch = StreamingQueries.q1Tumble(ridesDf(Seq(
        ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"),
        ride(3, "2013-01-01 00:11:00"))))
      .select("cell", "dept_time", "dept_cnt").as[(Int, Long, Long)].collect().toSet
    assert(batch.subsetOf(streamed ++ Set.empty), s"batch=$batch streamed=$streamed")
    assert(streamed.size === 2) // the two closed windows, third still open
  }

  test("late data beyond the watermark is dropped from closed windows") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = StreamingQueries.q1Tumble(rides).writeStream
      .format("memory").queryName("q1_late").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q1ck2").toString)
      .start()
    input.addData(ride(1, "2013-01-01 00:01:00"))
    q.processAllAvailable()
    input.addData(ride(2, "2013-01-01 01:00:00")) // watermark -> 00:58:59, closes 00:00 window
    q.processAllAvailable()
    input.addData(ride(3, "2013-01-01 00:02:00")) // > 61 s late: must be dropped
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("q1_late").select("dept_time", "dept_cnt")
      .as[(Long, Long)].collect().toMap
    assert(counts(Timestamp.valueOf("2013-01-01 00:10:00").getTime) === 1L) // ride 3 not counted
  }

  test("retract stream wraps an update changelog into (retract, add) pairs") {
    import graft.streaming.RetractStream
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val retracts = new RetractStream(Seq("cell"))
    val log = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Long)]
    val q = StreamingQueries.q4Level1(rides).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("rsck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        log ++= retracts.onBatch(batch.toDF()).map { case (add, r) =>
          (add, r.getAs[Long]("dept_cnt"))
        }
        () // foreachBatch wants Unit, not the appended buffer
      }
      .start()
    input.addData(ride(1, "2013-01-01 00:01:00"))
    q.processAllAvailable()
    input.addData(ride(2, "2013-01-01 00:02:00")) // same cell: count 1 -> 2
    q.processAllAvailable()
    q.stop()
    // Flink's changelog for this sequence: add(1), then retract(1), add(2)
    assert(log.toList === List((true, 1L), (false, 1L), (true, 2L)), s"got $log")
  }

  test("lake retract stream emits the same changelog as the driver-map form; replay reuses the published log") {
    import graft.streaming.LakeRetractStream
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val root = Files.createTempDirectory("lakeretract")
    val retr = new LakeRetractStream(root.resolve("r").toString, Seq("cell"))
    var lastBatch: (org.apache.spark.sql.DataFrame, Long) = null
    val q = StreamingQueries.q4Level1(rides).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        if (!batch.isEmpty) {
          val b = batch.toDF().cache()
          lastBatch = (b, id)
          retr.onBatch(b, id)
        }; ()
      }
      .start()
    input.addData(ride(1, "2013-01-01 00:01:00"))
    q.processAllAvailable()
    input.addData(ride(2, "2013-01-01 00:02:00")) // same cell: count 1 -> 2
    q.processAllAvailable()
    q.stop()
    val log = retr.emitted(spark)
      .orderBy("batch", "is_add", "dept_cnt")
      .select("is_add", "dept_cnt")
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toList
    // same changelog as the driver-map RetractStream: add(1) in batch 1,
    // then retract(1), add(2) in batch 2
    assert(log === List((true, 1L), (false, 1L), (true, 2L)), s"got $log")
    // at-least-once replay: re-running the LAST batch must not re-derive
    // (the lake already holds the post-batch state — a recompute would
    // retract the never-emitted count 2) nor duplicate the log
    retr.onBatch(lastBatch._1, lastBatch._2)
    val replayed = retr.emitted(spark).count()
    assert(replayed === 3L, s"replay duplicated the emission log: $replayed rows")
    lastBatch._1.unpersist()
  }

  test("lake retract changelog: a delete emits retract-without-add and clears state") {
    import graft.streaming.LakeRetractStream
    import spark.implicits._
    val root = Files.createTempDirectory("lakeretract-del")
    val retr = new LakeRetractStream(root.resolve("r").toString, Seq("k"))
    retr.onChangelog(Seq((1L, 10L)).toDF("k", "v"), null, 0L)
    // delete of k=1 alongside an unrelated upsert: the delete must emit
    // ONLY the retract of the last-emitted row (Flink's delete encoding)
    retr.onChangelog(Seq((2L, 5L)).toDF("k", "v"),
      Seq((1L, 0L)).toDF("k", "v"), 1L)
    val log = retr.emitted(spark).orderBy("batch", "is_add", "k")
      .select("is_add", "k", "v").collect()
      .map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2))).toList
    assert(log === List((true, 1L, 10L), (false, 1L, 10L), (true, 2L, 5L)), s"got $log")
    // the delete cleared the state lake: a re-add of k=1 is a FIRST
    // sight again — add only, no retract of the long-gone row
    retr.onChangelog(Seq((1L, 7L)).toDF("k", "v"), null, 2L)
    val b2 = retr.emitted(spark).filter(col("batch") === 2)
      .select("is_add", "k").collect().map(r => (r.getBoolean(0), r.getLong(1))).toList
    assert(b2 === List((true, 1L)), s"got $b2")
  }

  test("a lake retract stream runs the caller's upstream aggregation once per batch") {
    import graft.streaming.LakeRetractStream
    val input = MemoryStream[(String, Long)](spark)
    val root = Files.createTempDirectory("retractonce")
    val retr = new LakeRetractStream(root.resolve("r").toString, Seq("k"))
    val q = input.toDF().toDF("k", "v").groupBy("k").agg(sum("v").as("total"))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) => retr.onBatch(batch, id))
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
      // batch 2 retracts a's first total and adds d
      input.addData(("a", 10L), ("d", 4L))
      assert(updatedRows() === 2L, "the upstream aggregation ran more than once in batch 2")
    } finally q.stop()
    val log = retr.emitted(spark).orderBy("batch", "is_add", "k")
      .select("is_add", "k", "total").collect()
      .map(r => (r.getBoolean(0), r.getString(1), r.getLong(2))).toList
    assert(log === List((true, "a", 1L), (true, "b", 2L), (true, "c", 3L),
      (false, "a", 1L), (true, "a", 11L), (true, "d", 4L)), s"got $log")
  }

  test("retract-log compaction preserves the fold, is idempotent, and survives a torn run") {
    import graft.streaming.LakeRetractStream
    import spark.implicits._
    val root = Files.createTempDirectory("lakeretract-compact")
    val retr = new LakeRetractStream(root.resolve("r").toString, Seq("k"))
    // nothing published yet: the error names the stream's root
    val none = intercept[IllegalStateException](retr.lastBatchId(spark))
    assert(none.getMessage.contains(root.resolve("r").toString), none.getMessage)
    // k=1: 10 -> 20 (10 superseded); k=2: 5 deleted; k=3: 7 lives
    retr.onChangelog(Seq((1L, 10L), (2L, 5L)).toDF("k", "v"), null, 0L)
    retr.onChangelog(Seq((1L, 20L)).toDF("k", "v"), Seq((2L, 0L)).toDF("k", "v"), 1L)
    retr.onChangelog(Seq((3L, 7L)).toDF("k", "v"), null, 2L)
    def fold(): Set[(Long, Long)] = retr.emitted(spark)
      .groupBy("k", "v").agg(sum(when(col("is_add"), 1L).otherwise(-1L)).as("m"))
      .filter(col("m") === 1L).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = fold()
    assert(want === Set((1L, 20L), (3L, 7L)))
    // seal batches 0-1: snapshot + live batch 2 read together
    val (in1, out1) = retr.compactRetractLog(spark, 1L)
    assert(in1 === 5L && out1 === 1L) // 2 adds + (1 retract + 1 add) + 1 retract -> k=1 lives
    assert(fold() === want, "mid-seal compaction changed the fold")
    assert(retr.emitted(spark).count() === 2L) // snapshot(1) + batch 2's add
    // idempotent: re-sealing the same id only sweeps, changes nothing
    assert(retr.compactRetractLog(spark, 1L) === ((0L, 0L)))
    assert(fold() === want)
    // torn run: crash AFTER the new segment publishes, BEFORE the sweep —
    // the reader must ignore the stale older segment and the folded log
    intercept[RuntimeException] {
      retr.compactRetractLogHooked(spark, 2L)(
        () => throw new RuntimeException("crash before sweep"))
    }
    assert(fold() === want, "torn compaction changed the fold")
    // the next call sweeps the leftovers; everything is one segment
    retr.compactRetractLog(spark, 2L)
    assert(fold() === want)
    assert(retr.emitted(spark).count() === 2L)
    assert(retr.lastBatchId(spark) === 2L)
    // the retention POLICY follows the live-log count in both directions:
    // everything is sealed, so any threshold skips at 0 live logs...
    assert(retr.compactRetractLogIfLong(spark, 0, retr.lastBatchId(spark)) === ((0L, false)))
    // ...new logs accumulate until the count crosses the threshold, the
    // fired fold seals them, and the next window skips again
    retr.onChangelog(Seq((4L, 1L)).toDF("k", "v"), null, 3L)
    assert(retr.compactRetractLogIfLong(spark, 1, 3L) === ((1L, false)))
    retr.onChangelog(Seq((5L, 2L)).toDF("k", "v"), null, 4L)
    // the committed watermark FENCES the trigger: with batch 4's log
    // published but its offsets not yet committed, the trigger neither
    // counts nor seals it — a racing scheduler cannot fold a log that a
    // crash-replay would still need to reuse
    assert(retr.compactRetractLogIfLong(spark, 1, 3L) === ((1L, false)))
    val (live, fired) = retr.compactRetractLogIfLong(spark, 1, 4L)
    assert(live === 2L && fired)
    assert(retr.lastBatchId(spark) === 4L, "the fired fold sealed past the watermark")
    assert(retr.compactRetractLogIfLong(spark, 1, 4L) === ((0L, false)))
    assert(fold() === want + ((4L, 1L)) + ((5L, 2L)),
      "the fired retention fold changed the consumer fold")
  }

  test("Q4 cascade: changelog replay equals batch two-level aggregate") {
    val cells = TrieMap.empty[Int, Long]
    val hist = TrieMap.empty[Long, Long]
    // simulate level-1 update stream: cells a,b,c reaching counts over batches
    Seq((1, 1L), (2, 1L), (1, 2L), (3, 1L), (1, 3L), (2, 2L), (3, 2L), (4, 1L))
      .foreach { case (c, n) => CascadeQ4.applyUpdate(cells, hist, c, n) }
    // final counts: 1->3, 2->2, 3->2, 4->1  => histogram {3:1, 2:2, 1:1}
    assert(hist.toMap === Map(3L -> 1L, 2L -> 2L, 1L -> 1L))
    // equals the batch recomputation from the final level-1 table
    val batch = cells.values.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    assert(hist.toMap === batch)
  }

  test("Q4 end-to-end streaming cascade upserts the histogram into the sink") {
    import graft.sinks.ParquetUpsertSink
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val sink = new ParquetUpsertSink(
      Files.createTempDirectory("q4sink").toString + "/hist", Seq("dept_cnt"), nBuckets = 4)
    // same cell twice + another cell once => histogram {2:1, 1:1}
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"),
      ride(3, "2013-01-01 00:03:00", lon = -73.90f))
    val q = CascadeQ4.startToParquet(rides, sink, Files.createTempDirectory("q4ck").toString)
    q.awaitTermination()
    import spark.implicits._
    val hist = sink.snapshot(spark).as[(Long, Long)].collect().toMap
    assert(hist === Map(2L -> 1L, 1L -> 1L))
  }

  test("Q4 cascade lands the histogram in the parquet lake (upserts + deletes)") {
    import graft.sinks.ParquetUpsertSink
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val sink = new ParquetUpsertSink(
      Files.createTempDirectory("q4lake").toString + "/hist", Seq("dept_cnt"), nBuckets = 4)
    val ck = Files.createTempDirectory("q4pqck").toString
    // cell A twice, cell B once => {2:1, 1:1}
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"),
      ride(3, "2013-01-01 00:03:00", lon = -73.90f))
    CascadeQ4.startToParquet(rides, sink, ck).awaitTermination()
    def lake(): Map[Long, Long] = {
      import spark.implicits._
      sink.snapshot(spark).as[(Long, Long)].collect().toMap
    }
    assert(lake() === Map(2L -> 1L, 1L -> 1L))
    // cell B again: bucket 1 empties (delete), bucket 2 gains B
    input.addData(ride(4, "2013-01-01 00:04:00", lon = -73.90f))
    CascadeQ4.startToParquet(rides, sink, ck).awaitTermination()
    assert(lake() === Map(2L -> 2L), s"lake after delete: ${lake()}")
  }

  test("upsert key inference finds terminal groupBy columns (reference setKeyFields)") {
    val q4 = TaxiQueries.q4CntFreq(spark, Sf0001)
    assert(UpsertKeys.derive(q4) === Seq("dept_cnt"))
    val q1 = TaxiQueries.q1Tumble(spark, Sf0001)
    assert(UpsertKeys.derive(q1).contains("cell"))
    // append-only plan (no aggregate) -> no keys
    assert(UpsertKeys.derive(Rides.fromEvents(spark, Sf0001)) === Nil)
  }

  test("upsert key inference refuses non-injective key transforms (narrowing cast)") {
    import spark.implicits._
    val df = Seq((Timestamp.valueOf("2013-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2013-01-01 11:00:00"), 2L)).toDF("ts", "v")
      .groupBy(col("ts")).agg(count(lit(1)).as("c"))
      // timestamp->date collapses distinct grouping values: NOT a key
      .select(col("ts").cast("date").as("d"), col("c"))
    val e = intercept[IllegalArgumentException](UpsertKeys.derive(df))
    assert(e.getMessage.contains("not uniquely keyed"))
    // whereas unix_millis (injective) keeps the key and must NOT throw
    val ok = Seq((Timestamp.valueOf("2013-01-01 10:00:00"), 1L)).toDF("ts", "v")
      .groupBy(col("ts")).agg(count(lit(1)).as("c"))
      .select(unix_millis(col("ts")).as("ts_ms"), col("c"))
    assert(UpsertKeys.derive(ok) === Seq("ts_ms"))
  }

  test("streaming SQL: windowed agg via spark.sql over a stream temp view (reference Q2 shape)") {
    graft.functions.Taxi.registerAll(spark)
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
      .withWatermark("rowtime", "61 seconds")
      .createOrReplaceTempView("rides_stream")
    val agg = spark.sql(
      """SELECT toCellId(startLon, startLat) AS cell, window.end AS w_end, COUNT(rideId) AS dept_cnt
        |FROM rides_stream
        |WHERE isStart AND inNyc(startLon, startLat)
        |GROUP BY toCellId(startLon, startLat), window(rowtime, '10 minutes')""".stripMargin)
    assert(agg.isStreaming, "SQL over the stream view must stay a streaming plan")
    val q = agg.writeStream.format("memory").queryName("q2_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q2ck").toString)
      .start()
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"))
    q.processAllAvailable()
    input.addData(ride(3, "2013-01-01 01:00:00")) // closes the first window
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("q2_stream").select("cell", "dept_cnt").as[(Int, Long)].collect()
    assert(rows.toSeq === Seq((graft.functions.Taxi.toCellIdScalar(-73.99f, 40.75f), 2L)))
  }

  test("idle-state TTL evicts a key after the retention period (reference A6)") {
    import graft.streaming.TtlContinuousCount
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = TtlContinuousCount.query(rides, ttlMs = 60L * 60 * 1000).writeStream
      .format("memory").queryName("ttl_cnt").outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("ttlck").toString)
      .start()
    // two rides for the cell, then silence far beyond watermark + TTL
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"))
    q.processAllAvailable()
    input.addData(ride(3, "2013-01-01 06:00:00", lon = -73.90f)) // other cell, advances watermark 6h
    q.processAllAvailable()
    input.addData(ride(4, "2013-01-01 06:00:30", lon = -73.90f)) // triggers timeout processing
    q.processAllAvailable()
    // the original cell reappears: TTL must have reset its count
    input.addData(ride(5, "2013-01-01 06:01:00"))
    q.processAllAvailable()
    q.stop()
    val byBatch = spark.table("ttl_cnt").select("cell", "dept_cnt")
      .as[(Int, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    val mainCell = graft.functions.Taxi.toCellIdScalar(-73.99f, 40.75f)
    assert(byBatch(mainCell).contains(2L), s"pre-TTL count missing: $byBatch")
    assert(byBatch(mainCell).last === 1L, s"count not reset after TTL eviction: $byBatch")
  }

  test("idle-state TTL does NOT evict a key idle for less than the retention period") {
    import graft.streaming.TtlContinuousCount
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = TtlContinuousCount.query(rides, ttlMs = 60L * 60 * 1000).writeStream
      .format("memory").queryName("ttl_keep").outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("ttlck2").toString)
      .start()
    // main cell active in batch 1 (count 2), then idle while OTHER batches
    // advance the watermark ~40 min — well under the 1 h TTL
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"))
    q.processAllAvailable()
    input.addData(ride(3, "2013-01-01 00:30:00", lon = -73.90f)) // idle batch for main cell
    q.processAllAvailable()
    input.addData(ride(4, "2013-01-01 00:40:00", lon = -73.90f)) // fires any due timers
    q.processAllAvailable()
    input.addData(ride(5, "2013-01-01 00:45:00")) // main cell returns, 43 min idle < TTL
    q.processAllAvailable()
    q.stop()
    val mainCell = graft.functions.Taxi.toCellIdScalar(-73.99f, 40.75f)
    val counts = spark.table("ttl_keep").select("cell", "dept_cnt")
      .as[(Int, Long)].collect().filter(_._1 == mainCell).map(_._2).toList
    // with the old watermark-based arming, batch-1 keys got a ~epoch timer
    // and were evicted on the first watermark advance -> last count would be 1
    assert(counts === List(2L, 3L), s"key idle < TTL must keep its count: $counts")
  }

  test("idle-state TTL keeps a key idle under the TTL, then evicts it past the TTL") {
    import graft.streaming.TtlContinuousCount
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = TtlContinuousCount.query(rides, ttlMs = 60L * 60 * 1000).writeStream
      .format("memory").queryName("ttl_keep_evict").outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("ttlck3").toString)
      .start()
    try {
      // count 2, then idle 43 min (< TTL, must survive), then idle 6 h (> TTL, must reset)
      input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"))
      q.processAllAvailable()
      input.addData(ride(3, "2013-01-01 00:40:00", lon = -73.90f))
      q.processAllAvailable()
      input.addData(ride(4, "2013-01-01 00:45:00")) // 43 min idle < 1 h -> count 3
      q.processAllAvailable()
      input.addData(ride(5, "2013-01-01 07:00:00", lon = -73.90f)) // watermark +6 h
      q.processAllAvailable()
      input.addData(ride(6, "2013-01-01 07:01:00")) // > TTL idle -> reset to 1
      q.processAllAvailable()
    } finally q.stop()
    val mainCell = graft.functions.Taxi.toCellIdScalar(-73.99f, 40.75f)
    val counts = spark.table("ttl_keep_evict").select("cell", "dept_cnt")
      .as[(Int, Long)].collect().filter(_._1 == mainCell).map(_._2).toList
    assert(counts === List(2L, 3L, 1L), s"TTL keep-then-evict contract violated: $counts")
  }

  test("Q4 cascade recovers level-2 state across a restart from the same checkpoint") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    import graft.sinks.ParquetUpsertSink
    import spark.implicits._
    val ck = Files.createTempDirectory("q4restart").toString
    val lake = Files.createTempDirectory("q4restartlake").toString + "/hist"
    // run 1: cell A twice, cell B once  => histogram {2:1, 1:1}
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"),
      ride(3, "2013-01-01 00:03:00", lon = -73.90f))
    val sink1 = new ParquetUpsertSink(lake, Seq("dept_cnt"), nBuckets = 4)
    CascadeQ4.startToParquet(rides, sink1, ck).awaitTermination()
    assert(sink1.snapshot(spark).as[(Long, Long)].collect().toMap
      === Map(2L -> 1L, 1L -> 1L))
    // run 2 (fresh sink objects over the same paths = driver restart):
    // cell A again -> 3. A restart that lost the level-1 materialization
    // could not retract A's old bucket 2, leaving {2:1, 1:2} instead of
    // {3:1, 1:1}; here level 1 is a persisted lake, so the retraction is
    // derived from it after the level-1 streaming agg recovers from the
    // Spark checkpoint.
    input.addData(ride(4, "2013-01-01 00:04:00"))
    val sink2 = new ParquetUpsertSink(lake, Seq("dept_cnt"), nBuckets = 4)
    CascadeQ4.startToParquet(rides, sink2, ck).awaitTermination()
    val hist2 = sink2.snapshot(spark).as[(Long, Long)].collect().toMap
    assert(hist2 === Map(3L -> 1L, 1L -> 1L), s"post-restart histogram diverged: $hist2")
  }

  test("Q4 cascade replay converges after a crash between level-1 upsert and level-2 recompute") {
    import graft.sinks.ParquetUpsertSink
    import spark.implicits._
    val root = Files.createTempDirectory("q4crash")
    val level1 = new ParquetUpsertSink(root.toString + "/l1", Seq("cell"), nBuckets = 4)
    val level2 = new ParquetUpsertSink(root.toString + "/l2", Seq("dept_cnt"), nBuckets = 4)
    val markers = new org.apache.hadoop.fs.Path(root.toString, "markers")
    val fs = markers.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hist(): Map[Long, Long] = level2.snapshot(spark).as[(Long, Long)].collect().toMap
    // batch 0: cells A and B both reach count 1 -> histogram {1:2}
    CascadeQ4.applyBatch(level1, level2,
      markers, Seq((1, 1L), (2, 1L)).toDF("cell", "dept_cnt"), 0L)
    assert(hist() === Map(1L -> 2L))
    // batch 1 attempt 1 "crashes" AFTER the marker write and level-1 upsert
    // but BEFORE the level-2 recompute — exactly the torn window the marker
    // protocol exists for: on replay, A's old count equals its new count, so
    // the replayed batch alone would never revisit bucket 1
    CascadeQ4.writeMarker(fs, markers, 1L, Some(Seq(1L, 2L)))
    level1.upsert(Seq((1, 2L)).toDF("cell", "dept_cnt"))
    assert(hist() === Map(1L -> 2L), "level 2 must still be pre-crash here")
    // replay of batch 1: marker union re-derives bucket 1 from level-1 truth
    CascadeQ4.applyBatch(level1, level2, markers, Seq((1, 2L)).toDF("cell", "dept_cnt"), 1L)
    assert(hist() === Map(1L -> 1L, 2L -> 1L), s"replay did not converge: ${hist()}")
    // markers cleared once lakes agree with level-1 truth
    assert(!fs.exists(markers) || fs.listStatus(markers).isEmpty)
  }

  test("Q4 cascade runs the level-1 aggregation once per micro-batch") {
    import graft.sinks.ParquetUpsertSink
    import spark.implicits._
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val sink = new ParquetUpsertSink(
      Files.createTempDirectory("q4once").toString + "/hist", Seq("dept_cnt"), nBuckets = 4)
    val ck = Files.createTempDirectory("q4onceck").toString
    // batch 1: cells A and B at 1
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00", lon = -73.90f))
    CascadeQ4.startToParquet(rides, sink, ck).awaitTermination()
    // batch 2: four rides change three cells (A -> 2, new C -> 2, new D -> 1)
    input.addData(ride(3, "2013-01-01 00:03:00"),
      ride(4, "2013-01-01 00:04:00", lon = -73.95f), ride(5, "2013-01-01 00:05:00", lon = -73.95f),
      ride(6, "2013-01-01 00:06:00", lat = 40.70f))
    val q = CascadeQ4.startToParquet(rides, sink, ck)
    q.awaitTermination()
    val ran = q.recentProgress.filter(_.numInputRows > 0)
    assert(ran.length === 1, s"expected one data batch: ${ran.map(_.batchId).toSeq}")
    // every re-execution of the aggregation adds the batch's updates again
    assert(ran.last.stateOperators(0).numRowsUpdated === 3L,
      "the level-1 aggregation ran more than once in the micro-batch")
    assert(sink.snapshot(spark).as[(Long, Long)].collect().toMap === Map(2L -> 2L, 1L -> 2L))
  }

  test("Q4 cascade delta batches equal the recompute, replay idempotently, and fail loudly on a lake disagreement") {
    import graft.sinks.{MemoryDocStore, NetworkUpsertSink, ParquetUpsertSink}
    import spark.implicits._
    val root = Files.createTempDirectory("q4delta").toString
    val level1 = new ParquetUpsertSink(root + "/l1", Seq("cell"), nBuckets = 4)
    val level2 = new ParquetUpsertSink(root + "/l2", Seq("dept_cnt"), nBuckets = 4)
    val markers = new org.apache.hadoop.fs.Path(root, "markers")
    val fs = markers.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val storeId = "q4-delta-mirror"
    MemoryDocStore.clear(storeId)
    val mirror = new NetworkUpsertSink(MemoryDocStore.Factory(storeId), Seq("dept_cnt"))
    def lake(): Map[Long, Long] = level2.snapshot(spark).as[(Long, Long)].collect().toMap
    def recomputed(): Map[Long, Long] = level1.snapshot(spark).groupBy("dept_cnt").count()
      .as[(Long, Long)].collect().toMap
    def mirrored(): Map[Long, Long] = MemoryDocStore.store(storeId).values
      .map(d => d("dept_cnt").asInstanceOf[Long] -> d("cnt_freq").asInstanceOf[Long]).toMap
    def noMarker(): Boolean = !fs.exists(markers) || fs.listStatus(markers).isEmpty
    def emptyL2Buckets(): Int = new java.io.File(root, "l2").listFiles()
      .count(d => d.getName.startsWith("bucket=") && !d.list().exists(_.endsWith(".parquet")))
    // the driver-side reference: per-cell counts and their histogram
    val counts = scala.collection.mutable.Map.empty[Int, Long]
    def model(): Map[Long, Long] = counts.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def apply(rows: Seq[(Int, Long)], batchId: Long): Unit =
      CascadeQ4.applyBatch(level1, level2, markers, rows.toDF("cell", "dept_cnt"), batchId, mirror)

    val rnd = new scala.util.Random(2026)
    // random cells of 40 move between counts 1..6; batch 5 moves every
    // cell to 9, emptying every other key and so the level-2 buckets that
    // 9 does not hash to
    val batches = (0 until 8).map { b =>
      if (b == 5) (0 until 40).map(c => (c, 9L))
      else rnd.shuffle((0 until 40).toList).take(5 + rnd.nextInt(20)).map(c => (c, 1L + rnd.nextInt(6)))
    }
    batches.zipWithIndex.foreach { case (rows, b) =>
      apply(rows, b.toLong)
      counts ++= rows
      val want = model()
      assert(noMarker(), s"batch $b left a marker")
      assert(recomputed() === want, s"batch $b: level 1 diverged")
      assert(lake() === want, s"batch $b: the level-2 delta diverged from the recompute")
      assert(mirrored() === want, s"batch $b: the mirror diverged from the lake")
      if (b == 5) assert(emptyL2Buckets() > 0, "fixture vacuous: no level-2 bucket emptied")
      // the same batch again, markers cleared: old == new, all-zero delta
      apply(rows, b.toLong)
      assert(lake() === want && mirrored() === want, s"batch $b: the replay changed the lakes")
    }

    // lower one frequency by hand below what the next batch retracts
    val (k, f) = lake().maxBy(_._2)
    assert(f >= 2, s"fixture vacuous: max frequency $f")
    level2.upsert(Seq((k, f - 1)).toDF("dept_cnt", "cnt_freq"))
    val moveOut = counts.collect { case (c, n) if n == k => (c, 20L) }.toSeq
    val e = intercept[Exception](apply(moveOut, 8L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("negative cnt_freq")), e.toString)
    assert(!noMarker(), "the failed batch must leave its marker")
    assert(lake()(k) === f - 1, "level 2 published past the failure")
    counts ++= moveOut // its level-1 publish went through before the failure

    // the batch after it recovers by recompute from level-1 truth
    val next = Seq((0, 30L), (1, 30L))
    apply(next, 9L)
    counts ++= next
    assert(noMarker())
    assert(recomputed() === model())
    assert(lake() === model(), "the recompute did not heal level 2")
    assert(mirrored() === model(), "the recompute did not heal the mirror")
    MemoryDocStore.clear(storeId)
  }

  test("streaming sliding window lands each departure in both overlapping windows") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val agg = rides
      .filter(col("isStart"))
      .select(col("rideId"), graft.functions.Taxi.toCellId(col("startLon"), col("startLat")).as("cell"), col("rowtime"))
      .withWatermark("rowtime", "61 seconds")
      .groupBy(col("cell"), window(col("rowtime"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("cell"), unix_millis(col("w.end")).as("w_end"), col("n"))
    val q = agg.writeStream.format("memory").queryName("q6_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q6ck").toString)
      .start()
    input.addData(ride(1, "2013-01-01 00:07:00")) // windows [00:00,00:10) and [00:05,00:15)
    q.processAllAvailable()
    input.addData(ride(2, "2013-01-01 01:00:00")) // watermark closes both
    q.processAllAvailable()
    q.stop()
    val t0 = Timestamp.valueOf("2013-01-01 00:00:00").getTime
    val ends = spark.table("q6_stream").select("w_end", "n").as[(Long, Long)].collect().toMap
    assert(ends === Map(t0 + 10 * 60000 -> 1L, t0 + 15 * 60000 -> 1L), s"got $ends")
  }

  test("streaming session window merges within-gap events and closes on watermark") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = StreamingQueries.q7Session(rides).writeStream
      .format("memory").queryName("q7_stream").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q7ck").toString)
      .start()
    // two departures 5 min apart (one session), delivered in separate
    // batches — the partial sessions must merge
    input.addData(ride(1, "2013-01-01 00:00:00"))
    q.processAllAvailable()
    input.addData(ride(2, "2013-01-01 00:05:00"))
    q.processAllAvailable()
    // silence; a far-future event advances the watermark past 00:35 close
    input.addData(ride(3, "2013-01-01 02:00:00"))
    q.processAllAvailable()
    q.stop()
    val mainCell = graft.functions.Taxi.toCellIdScalar(-73.99f, 40.75f)
    val sessions = spark.table("q7_stream")
      .select("cell", "sess_start", "sess_end", "n_dept")
      .as[(Int, Long, Long, Long)].collect().filter(_._1 == mainCell).toList
    val t0 = Timestamp.valueOf("2013-01-01 00:00:00").getTime
    // one closed session: [00:00, 00:05 + 30min), 2 departures
    assert(sessions === List((mainCell, t0, t0 + 5 * 60000 + 30 * 60000, 2L)), s"got $sessions")
  }

  test("Q7's oracle merges two departures exactly one gap apart, as session_window does") {
    val dir = Files.createTempDirectory("q7gap")
    val (sf, out) = (dir.resolve("sf"), dir.resolve("out"))
    // three departures of one cell (even event ids, one user_id, event_id
    // % 540 equal): the second exactly 30:00.000 after the first, the
    // third 1 ms more than the gap after the second
    val t0 = Timestamp.valueOf("2013-01-01 00:00:00").getTime
    val gap = TaxiQueries.SessionGapMs
    Seq((0L, t0), (1080L, t0 + gap), (2160L, t0 + 2 * gap + 1)).toDF("event_id", "ts_ms")
      .select(col("event_id"), timestamp_millis(col("ts_ms")).as("ts"), lit(7L).as("user_id"),
        lit("ride").as("event_type"), lit(1.0).as("value"), lit("").as("props"))
      .coalesce(1).write.parquet(dir.resolve("staged").toString)
    Files.createDirectories(sf)
    Files.move(Files.list(dir.resolve("staged")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get, sf.resolve("events.parquet"))
    val sessions = SparkEntry.queries("q7_session")(spark, sf.toString)
    assert(sessions.select("n_dept").as[Long].collect().toSeq === Seq(2L, 1L))
    sessions.coalesce(1).write.parquet(out.resolve("q7_session").toString)
    Files.writeString(out.resolve("oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
        java.util.Map.of("q7_session", SparkEntry.oracleSql("q7_session"))))
    val tool = java.nio.file.Paths.get(sys.props("user.dir"), "tools", "local_verify.py")
    val log = new StringBuilder
    val rc = scala.sys.process.Process(Seq("python3", tool.toString, sf.toString, out.toString,
      "--only", "q7_session")).!(scala.sys.process.ProcessLogger(l => log ++= l + "\n", l => log ++= l + "\n"))
    assert(rc === 0 && log.toString.contains("PASS q7_session (2 rows)"), log.toString)
  }

  test("stream-stream join pairs START and END events within the ride bound") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = StreamingQueries.pairStartEnd(rides).writeStream
      .format("memory").queryName("q8_stream").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q8ck").toString)
      .start()
    def endRide(id: Long, t: String) = {
      val r = ride(id, t); (r._1, false, r._3, r._4, r._5, r._6, r._7, r._8, r._9)
    }
    // ride pair 0: START (id 0) then its END (id 1) 12 min later,
    // arriving in different micro-batches — the join must buffer the START
    input.addData(ride(0, "2013-01-01 00:00:00"))
    q.processAllAvailable()
    input.addData(endRide(1, "2013-01-01 00:12:00"))
    q.processAllAvailable()
    // an END with no START in range (pair 5) must not emit
    input.addData(endRide(11, "2013-01-01 00:20:00"))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("q8_stream")
      .select("pair_id", "gap_ms").as[(Long, Long)].collect().toList
    assert(pairs === List((0L, 12L * 60 * 1000)), s"got $pairs")
  }

  test("streaming Q7 sessionizes millisecond rowtimes, as the batch query does") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = StreamingQueries.q7Session(rides).writeStream
      .format("memory").queryName("q7_ms_stream").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q7msck").toString)
      .start()
    // two same-cell departures 30 min + 500 µs apart: in microseconds the
    // second starts after the first session's end, in milliseconds exactly
    // at it, and Spark merges sessions that touch
    val departures = Seq(ride(1, "2013-01-01 00:00:00"), ride(2, "2013-01-01 00:30:00.0005"))
    input.addData(departures.head)
    q.processAllAvailable()
    input.addData(departures(1))
    q.processAllAvailable()
    input.addData(ride(3, "2013-01-01 03:00:00")) // watermark closes the session
    q.processAllAvailable()
    q.stop()
    val mainCell = graft.functions.Taxi.toCellIdScalar(-73.99f, 40.75f)
    def sessions(df: org.apache.spark.sql.DataFrame) =
      df.select("cell", "sess_start", "sess_end", "n_dept")
        .as[(Int, Long, Long, Long)].collect().filter(_._1 == mainCell).sortBy(_._2).toList
    val t0 = Timestamp.valueOf("2013-01-01 00:00:00").getTime
    val batch = sessions(StreamingQueries.q7Session(ridesDf(departures)))
    assert(batch === List((mainCell, t0, t0 + 2 * TaxiQueries.SessionGapMs, 2L)))
    assert(sessions(spark.table("q7_ms_stream")) === batch)
  }

  test("streaming Q8 matches a pair whose gap is exactly MaxRideMs in milliseconds") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = StreamingQueries.pairStartEnd(rides).writeStream
      .format("memory").queryName("q8_ms_stream").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q8msck").toString)
      .start()
    // pair 0: END 2 h + 999 µs after its START — over the bound in
    // microseconds, exactly MaxRideMs in milliseconds, where the oracle's
    // `abs(end_ms - start_ms) <= MaxRideMs` matches it
    val end = ride(1, "2013-01-01 02:00:00.000999")
    input.addData(ride(0, "2013-01-01 00:00:00"))
    q.processAllAvailable()
    input.addData((end._1, false, end._3, end._4, end._5, end._6, end._7, end._8, end._9))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("q8_ms_stream")
      .select("pair_id", "gap_ms").as[(Long, Long)].collect().toList
    assert(pairs === List((0L, TaxiQueries.MaxRideMs)))
  }

  test("observe() surfaces per-batch pipeline metrics in query progress") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
      // production monitoring seam: counts computed inline with the batch,
      // no second pass over the data
      .observe("ingest", count(lit(1)).as("n_rows"), sum(col("passengerCnt")).as("n_pax"))
    val q = rides.select("rideId").writeStream
      .format("memory").queryName("obs_stream").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("obsck").toString)
      .start()
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"))
    q.processAllAvailable()
    q.stop()
    val observed = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("ingest"))).toList
    assert(observed.nonEmpty, "no observed metrics in progress events")
    assert(observed.map(_.getAs[Long]("n_rows")).sum === 2L)
    assert(observed.map(_.getAs[Long]("n_pax")).sum === 2L) // ride() uses 1 pax
  }

  test("stream-static join enriches the ride stream with a dimension table") {
    import spark.implicits._
    val dim = Seq((graft.functions.Taxi.toCellIdScalar(-73.99f, 40.75f), "midtown"),
      (graft.functions.Taxi.toCellIdScalar(-73.90f, 40.75f), "queens"))
      .toDF("cell", "zone") // static side: re-read per micro-batch, no state
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val enriched = rides
      .select(col("rideId"), graft.functions.Taxi.toCellId(col("startLon"), col("startLat")).as("cell"))
      .join(dim, Seq("cell"), "left")
    val q = enriched.writeStream.format("memory").queryName("enriched_stream")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("enrck").toString)
      .start()
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00", lon = -73.90f))
    q.processAllAvailable()
    q.stop()
    val zones = spark.table("enriched_stream").select("rideId", "zone")
      .as[(Long, String)].collect().toMap
    assert(zones === Map(1L -> "midtown", 2L -> "queens"))
  }

  test("streaming dedup drops within-watermark duplicate rideIds") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = StreamingQueries.dedupEvents(rides)
      .select("rideId", "rowtime").writeStream
      .format("memory").queryName("dedup_stream").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("ddck").toString)
      .start()
    def endRide(id: Long, t: String) = {
      val r = ride(id, t); (r._1, false, r._3, r._4, r._5, r._6, r._7, r._8, r._9)
    }
    input.addData(ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:02:00"))
    q.processAllAvailable()
    // replay of ride 1's START within the watermark horizon: must be
    // dropped even though it arrives in a later micro-batch. Ride 1's END
    // shares the rideId (reference data model) and must SURVIVE.
    input.addData(ride(1, "2013-01-01 00:01:00"), endRide(1, "2013-01-01 00:01:30"),
      ride(3, "2013-01-01 00:03:00"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("rideId").as[Long].collect().sorted.toList
    assert(ids === List(1L, 1L, 2L, 3L),
      s"duplicate survived, or the END event was wrongly dropped: $ids")
  }

  test("streaming OVER window counts trailing 10-min departures per cell") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = OverWindowState.q3Streaming(rides).writeStream
      .format("memory").queryName("q3_stream").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q3ck").toString)
      .start()
    input.addData(
      ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:05:00"),
      ride(3, "2013-01-01 00:12:00"), // 00:05 and 00:12 within 10 min
      ride(4, "2013-01-01 00:30:00")) // alone in its window
    q.processAllAvailable()
    q.stop()
    val cnts = spark.table("q3_stream").select("ride_id", "dept_cnt")
      .as[(Long, Long)].collect().toMap
    assert(cnts === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("streaming OVER window restarts the trailing count after a pruning batch") {
    val input = MemoryStream[(Long, Boolean, Timestamp, Timestamp, Float, Float, Float, Float, Short)](spark)
    val rides = input.toDF().toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", when(col("isStart"), col("startTime")).otherwise(col("endTime")))
    val q = OverWindowState.q3Streaming(rides).writeStream
      .format("memory").queryName("q3_stream_prune").outputMode(OutputMode.Append())
      .option("checkpointLocation", Files.createTempDirectory("q3pruneck").toString)
      .start()
    try {
      input.addData(
        ride(1, "2013-01-01 00:01:00"), ride(2, "2013-01-01 00:05:00"),
        ride(3, "2013-01-01 00:12:00"),
        ride(4, "2013-01-01 00:30:00"))
      q.processAllAvailable()
      // second batch far past the prune horizon: the buffer is pruned, and
      // the trailing count must restart at 1
      input.addData(ride(5, "2013-01-01 03:00:00"), ride(6, "2013-01-01 03:06:00"))
      q.processAllAvailable()
    } finally q.stop()
    val cnts = spark.table("q3_stream_prune").select("ride_id", "dept_cnt")
      .as[(Long, Long)].collect().toMap
    assert(cnts === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 1L, 6L -> 2L))
  }

  test("streaming funnel converges to the batch funnel on the full event history") {
    import graft.streaming.FunnelStream
    val all = graft.core.Tables.load(spark, Sf0001, "events")
      .select("user_id", "ts", "event_type")
      .as[(Long, Timestamp, String)].collect().sortBy(_._2.getTime)
    assert(all.nonEmpty)
    // two arbitrary chunks (split mid-history, not on a clean boundary) +
    // a far-future sentinel of a filtered-out type that only advances the
    // watermark past every real event
    val (first, second) = all.splitAt(all.length / 3)
    val sentinel = (-1L,
      new Timestamp(all.map(_._2.getTime).max + 10L * 60 * 1000 + 61000), "signup")
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val q = FunnelStream.funnelStream(
      input.toDF().toDF("user_id", "ts", "event_type")).writeStream
      .format("memory").queryName("funnel_stream").outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("fnck").toString)
      .start()
    try {
      input.addData(first.toSeq); q.processAllAvailable()
      input.addData(second.toSeq); q.processAllAvailable()
      input.addData(sentinel); q.processAllAvailable()
    } finally q.stop()
    // snapshots are monotone (each field is set once), so a user's final
    // answer is the max-depth distinct row
    val got = spark.table("funnel_stream").distinct()
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)].collect()
      .groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._5) }
    val batch = graft.operators.Relational.funnel(spark, Sf0001)
      .as[(Long, Long, Option[Long], Option[Long], Int)].collect()
    assert(batch.nonEmpty)
    batch.foreach { case (u, tv, tc, tp, depth) =>
      val s = got(u)
      assert((s._2, s._3, s._4, s._5) === ((Some(tv), tc, tp, depth)),
        s"user $u: stream ${s} vs batch ${(tv, tc, tp, depth)}")
    }
    // no user with a view is missing from the stream, and depths split
    assert(batch.map(_._5).distinct.length > 1)
  }

  test("incremental SCD2: upsert-fold across micro-batches equals the batch build") {
    import graft.streaming.Scd2Stream
    // (event_id, ts, user_id, event_type): user 10 changes segment across
    // batches (version opened in batch 1 must be CLOSED by batch 2's
    // change); user 20 has a same-microsecond change pair (collapse keeps
    // the later event_id) and a no-change repeat; 'purchase' rows are
    // dimension-irrelevant and must be ignored
    def ev(id: Long, us: Long, uid: Long, t: String) =
      (id, new Timestamp(us / 1000), uid, t, 0.0, "")
    val batch1 = Seq(
      ev(1, 1000000L, 10L, "view"), ev(2, 2000000L, 10L, "view"),
      ev(3, 2500000L, 10L, "purchase"),
      ev(4, 1000000L, 20L, "signup"), ev(5, 3000000L, 20L, "click"),
      ev(6, 3000000L, 20L, "error"))
    val batch2 = Seq(
      ev(7, 5000000L, 10L, "click"), ev(8, 6000000L, 10L, "click"),
      ev(9, 7000000L, 20L, "error"), ev(10, 8000000L, 20L, "view"))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)](spark)
    val acc = scala.collection.mutable.Map.empty[(Long, Int), (String, Long, Long)]
    val q = Scd2Stream.scd2Stream(input.toDF().toDF(cols: _*)).toDF().writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("scd2ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => acc((r.getLong(0), r.getInt(4))) =
          (r.getString(1), r.getLong(2), r.getLong(3)))
        ()
      }
      .start()
    input.addData(batch1: _*); q.processAllAvailable()
    input.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    val expected = graft.operators.Relational
      .scd2Versions((batch1 ++ batch2).toDF(cols: _*))
      .as[(Long, String, Long, Long, Int)].collect()
      .map { case (u, seg, f, t, v) => (u, v) -> (seg, f, t) }.toMap
    assert(acc.toMap === expected)
    // the cross-batch closure actually happened: user 10's view version
    // opened in batch 1 is closed at batch 2's click microsecond
    assert(acc((10L, 1))._3 === 5000000L)
    // and the same-microsecond pair collapsed to the later event (error)
    assert(acc((20L, 2))._1 === "error")
  }

  test("bounded-state dedup gate exercises BOTH regimes: suppression and post-expiry re-emission") {
    // non-vacuity guard for stream_dedup_bounded: the oracle recomputes
    // both sides, so a fixture drift that silenced the expiry path would
    // stay hash-green while proving nothing — this pins that a real mix
    // of suppressed (emitted=1) and expired-then-re-emitted (emitted=2)
    // keys survives, and that the split follows the gap schedule: gaps of
    // 0 or ~1 chunk never outlive the retention, gaps of ~2-3 chunks do
    // for at least some keys
    val out = graft.streaming.StreamGate.dedupBounded(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byGap = out.groupBy { case (id, _) => (id % 4).toInt }
      .view.mapValues(_.values.toSeq).toMap
    assert(out.values.toSet === Set(1, 2), s"expected both regimes, got ${out.values.toSet}")
    assert(byGap(0).forall(_ == 1), "an exact same-chunk duplicate must always be suppressed")
    assert(byGap(3).exists(_ == 2), "3-chunk-late re-deliveries must hit expired state")
  }

  /** Names directly under the gate scratch root that start with `prefix`. */
  private def scratchEntries(prefix: String): Set[String] = {
    val ls = Files.list(graft.streaming.StreamGate.scratchRoot)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(prefix)).toSet
    } finally ls.close()
  }

  test("a gate that fails leaves no scratch dir behind") {
    val before = scratchEntries("graft-gate-retractlake")
    intercept[Exception] {
      graft.streaming.StreamGate.q4RetractLake(spark, "/nonexistent/graft-missing-sf")
    }
    assert(scratchEntries("graft-gate-retractlake") -- before === Set.empty[String])
  }

  test("the gate skeleton releases its scratch table and dir when the body throws") {
    var (table, dir) = ("", "")
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamGate.gate(spark, "leaktest") { g =>
        table = g.table("gate_leak_test")
        dropTables(table)
        spark.range(3).write.saveAsTable(table)
        dir = g.dir("scratch")
        Files.createDirectories(java.nio.file.Paths.get(dir))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(!spark.catalog.tableExists(table))
    assert(!Files.exists(java.nio.file.Paths.get(dir).getParent))
  }

  test("a passing gate leaves no table, view or scratch dir beyond the shared staging") {
    def catalog = spark.catalog.listTables().collect().map(_.name).toSet
    val (tablesBefore, scratchBefore) = (catalog, scratchEntries("graft-gate"))
    val out = graft.streaming.StreamGate.ingestAdmit(spark, Sf0001)
    assert(out.count() > 0)
    assert(catalog -- tablesBefore === Set.empty[String])
    assert(scratchEntries("graft-gate") -- scratchBefore === Set.empty[String])
  }

  test("a checkpoint-less operator stream that fails inside a gate leaves no checkpoint behind") {
    import graft.operators.TextAnalysis
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def temporaries: Set[String] = {
      val ls = Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("temporary-")).toSet
      } finally ls.close()
    }
    val (tmpBefore, scratchBefore) = (temporaries, scratchEntries("graft-gate"))
    val docs = MemoryStream[(Long, String)](spark)
    docs.addData((1L, "a b c"), (2L, "b c d"))
    val e = intercept[Exception] {
      graft.streaming.StreamGate.gate(spark, "ckleak") { g =>
        val Seq(p, f, st) = Seq("ckleak_post", "ckleak_df", "ckleak_stats").map(g.table)
        g.drain(TextAnalysis.bm25IngestStream(docs.toDF().toDF("doc_id", "text"), p, f, st)(
          () => throw new IllegalStateException("batch failed")))
      }
    }
    assert(e.getMessage.contains("batch failed"), e.getMessage)
    assert(temporaries -- tmpBefore === Set.empty[String],
      "the failed query's checkpoint landed outside the gate scratch dir")
    assert(scratchEntries("graft-gate") -- scratchBefore === Set.empty[String])
  }
}
