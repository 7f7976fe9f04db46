package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.functions.Taxi
import graft.core.{Commit, Generations}
import graft.operators.TaxiQueries
import graft.sinks.{MemoryUpsertSink, NetworkUpsertSink, UpsertKeys}
import scala.collection.concurrent.TrieMap

/** The reference's queries over a rides frame that may be bounded or
  * unbounded. The reference is a pure streaming app (dynamic tables over an
  * unbounded taxi-ride stream, TaxiRideQueries.scala:33-37) that writes
  * each query once against the `rides` table; so does this object for Q1,
  * Q4 level 1, Q6, Q7 and both Q8 forms. The batch entries
  * ([[graft.operators.TaxiQueries]]) apply these same definitions to the
  * rides-from-events table and add a total ORDER BY: Spark's analyzer
  * drops `withWatermark` from a batch frame (EliminateEventTimeWatermark),
  * so a batch plan is the plain query. Each reads the one
  * [[graft.operators.TaxiQueries.departures]] projection.
  *
  *  - Q1 (tumbling-window agg): watermarked streaming aggregation —
  *    append mode emits finalized windows, update mode mirrors Flink's
  *    eagerly-updating dynamic table.
  *  - Q4 (cascaded agg): Spark forbids chained streaming aggregations; the
  *    level-1 agg runs in update mode and [[CascadeQ4]] replays its
  *    changelog into the level-2 histogram inside foreachBatch — the
  *    decrement of a cell's old count bucket IS the Flink retraction
  *    (ElasticUpsertTableSink.scala:144-146), the increment the add.
  *  - Q3 (event-time OVER window): no streaming OVER in Spark;
  *    [[OverWindowState]] keeps a per-cell time-ordered buffer in
  *    flatMapGroupsWithState, pruned below the watermark horizon.
  */
object StreamingQueries {

  /** Run `f` on every non-empty micro-batch of `arriving` — the append
    * skeleton of the operator families' admit/forget/serve loops. With no
    * `checkpoint`, the session's checkpointLocation root (a gate sets one)
    * or else a Spark temporary dir holds the query's checkpoint.
    */
  def eachBatch(arriving: DataFrame, checkpoint: Option[String] = None)(
      f: DataFrame => Unit): StreamingQuery = {
    val w = arriving.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) f(batch.toDF())
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The demo's watermark delay: maxOutOfOrder 60 s + 1 ms, rounded up
    * (TaxiRideSource.java:102,150,210).
    */
  final val Watermark = "61 seconds"

  /** `ts` truncated to milliseconds. events.parquet carries sub-ms parts
    * and the oracles work in rowtime_ms, so a query whose answer turns on
    * an exact gap (Q7's session split, Q8's ride bound) truncates before
    * its watermark: batch, stream and oracle then compare the same gaps.
    */
  private def millis(ts: Column): Column = timestamp_millis(unix_millis(ts))

  /** Q1: departures per (cell, 10-min tumbling window), with the
    * cell-center geo point and the window end in epoch millis (Flink
    * cast(ts AS LONG) = millis, SURVEY §7.4). `watermark` is the lag the
    * late-drop gate widens.
    */
  def q1Tumble(rides: DataFrame, watermark: String = Watermark): DataFrame =
    TaxiQueries.departures(rides)
      .withWatermark("rowtime", watermark)
      .groupBy(col("cell"), window(col("rowtime"), "10 minutes").as("w"))
      .agg(count(col("ride_id")).as("dept_cnt"))
      .select(col("cell"),
        Taxi.cellLon(col("cell")).as("cell_lon"),
        Taxi.cellLat(col("cell")).as("cell_lat"),
        unix_millis(col("w.end")).as("dept_time"),
        col("dept_cnt"))

  /** Q6: 10-min windows sliding every 5 min — the hopping variant of
    * [[q1Tumble]]; each departure lands in exactly two windows. Spark plans
    * the hop as Expand (window/slide = 2 rows per departure) → windowed
    * agg, so streaming state stays 2× the tumbling query's.
    */
  def q6Sliding(rides: DataFrame): DataFrame =
    TaxiQueries.departures(rides)
      .withWatermark("rowtime", Watermark)
      .groupBy(col("cell"), window(col("rowtime"), "10 minutes", "5 minutes").as("w"))
      .agg(count(col("ride_id")).as("dept_cnt"))
      .select(col("cell"), unix_millis(col("w.end")).as("dept_time"), col("dept_cnt"))

  /** Q7: per-cell sessions via Spark's native `session_window`: a session
    * absorbs departures until a 30-min silence and ends at last event +
    * gap. Rowtime is [[millis]]-truncated first, so sessions form over the
    * millisecond rowtimes the oracle reads. Streaming merges partial
    * sessions across micro-batches and emits a session once the watermark
    * passes its close.
    */
  def q7Session(rides: DataFrame): DataFrame =
    TaxiQueries.departures(rides)
      .withColumn("rowtime", millis(col("rowtime")))
      .withWatermark("rowtime", Watermark)
      .groupBy(col("cell"), session_window(col("rowtime"), "30 minutes").as("w"))
      .agg(count(col("ride_id")).as("n_dept"))
      .select(col("cell"),
        unix_millis(col("w.start")).as("sess_start"),
        unix_millis(col("w.end")).as("sess_end"),
        col("n_dept"))

  /** Q8's START ⋈ END join on the pair key (rideId div 2 in the synthetic
    * derivation, even ids are STARTs; the reference shares rideId,
    * TaxiRide.java:24-38), keeping the ENDs `keepEnd` selects. Both
    * rowtimes are [[millis]]-truncated before the watermark, so the
    * time-range condition is exactly |end_ms − start_ms| ≤
    * [[TaxiQueries.MaxRideMs]], the oracle's bound. In a stream it also
    * bounds both join-state buffers: a START is evicted once the watermark
    * passes start + MaxRideMs, an END once it passes end + MaxRideMs.
    */
  private def pairJoin(rides: DataFrame, keepEnd: Column, joinType: String): DataFrame = {
    def side(isStart: Column, key: String, time: String) =
      rides.filter(isStart)
        .select(expr("rideId div 2").as(key), millis(col("rowtime")).as(time))
    val starts = side(col("isStart"), "pair_id", "start_rt").withWatermark("start_rt", Watermark)
    val ends = side(!col("isStart"), "end_pair_id", "end_rt").filter(keepEnd)
      .withWatermark("end_rt", Watermark)
    val maxRide = expr(s"INTERVAL ${TaxiQueries.MaxRideMs / 1000} SECONDS")
    starts.join(ends,
      col("pair_id") === col("end_pair_id") &&
        col("end_rt") >= col("start_rt") - maxRide && col("end_rt") <= col("start_rt") + maxRide,
      joinType)
  }

  /** Q8: each ride's START paired with its END and the event-time gap
    * (stream: a watermarked stream-stream inner join).
    */
  def pairStartEnd(rides: DataFrame): DataFrame =
    pairJoin(rides, lit(true), "inner")
      .select(col("pair_id"),
        unix_millis(col("start_rt")).as("start_ms"),
        unix_millis(col("end_rt")).as("end_ms"),
        (unix_millis(col("end_rt")) - unix_millis(col("start_rt"))).as("gap_ms"))

  /** Q8 LEFT OUTER: every START, paired or not; every 7th pair's END is
    * dropped ([[TaxiQueries.PairEndDropMod]]) so unmatched STARTs occur.
    * NULL-free output (-1 sentinels plus a `matched` flag), so the
    * cross-engine hash never depends on NULL encodings. A stream emits a
    * START's null-padded row only once the watermark passes start +
    * MaxRideMs (its join-state eviction), so the result is "rides provably
    * incomplete", not "not yet matched": the caller must push the final
    * watermark past the last start's bound (the gate appends far-future
    * sentinels on BOTH sides) or tail unmatched rows stay unemitted.
    */
  def pairStartEndOuter(rides: DataFrame): DataFrame =
    pairJoin(rides, col("end_pair_id") % TaxiQueries.PairEndDropMod =!= TaxiQueries.PairEndDropRem,
        "leftOuter")
      .select(col("pair_id"),
        unix_millis(col("start_rt")).as("start_ms"),
        coalesce(unix_millis(col("end_rt")), lit(-1L)).as("end_ms"),
        coalesce(unix_millis(col("end_rt")) - unix_millis(col("start_rt")), lit(-1L)).as("gap_ms"),
        col("end_rt").isNotNull.as("matched"))

  /** LATE-DATA AUDIT — the reference's disorder model (bounded random
    * event delay, TaxiRideSource.java:126-134) made OBSERVABLE: Spark
    * (like Flink) silently drops rows that arrive behind the watermark;
    * a production pipeline wants them ROUTED (a dead-letter table, a
    * backfill queue) and counted. The audit deliberately runs a
    * watermark lag ([[LateAuditLagMs]]) TIGHTER than the disorder bound
    * ([[LateAuditMaxDelayMs]]), so some arrivals genuinely cross the
    * line — the measurement a team sizing a watermark actually needs.
    *
    * Parameter scaling: lateness only materializes when the disorder
    * bound dwarfs both the lag and the inter-event gap — the arrival
    * boundary of a batch sits ~mean-jitter above the rowtime frontier,
    * so a bound ≈ lag (the reference's 60 s / 61 s pairing,
    * TaxiRideSource.java:96-103) NEVER drops rows (by design there).
    * The audit uses (4 h, 30 min) against this fixture's ~4 min event
    * spacing — 23 genuinely late rows at sf0.01 — the shape of a
    * pipeline ingesting day-delayed upstream partitions with an
    * half-hour watermark.
    */
  val LateAuditLagMs = 1800000L
  val LateAuditMaxDelayMs = 14400000L

  /** Spark PUBLISHES the event-time watermark with ONE micro-batch of
    * delay: the value governing batch N was fixed when batch N was
    * planned, from event-time stats through batch N−2 — not N−1.
    * Adjudicated empirically against Spark 4.1.2 by the
    * stream_q1_late_drop gate: the zero-delay model (watermark from
    * stats through N−1) provably dropped 15 rows at sf0.01 that Spark
    * kept; with this delay the oracle is hash-exact. Every SQL oracle
    * modeling Spark's OWN late-drop must route through
    * [[watermarkOverSql]] with this constant, so a Spark upgrade that
    * changes publication timing fails all such gates in ONE named place
    * instead of as scattered magic offsets.
    */
  val WatermarkPublicationDelayBatches = 1

  /** The number of arrival-order replay chunks the disorder gates use —
    * shared with their oracles, whose chunk arithmetic must reproduce
    * the staged split exactly.
    */
  val LateChunks = 3

  /** BOUNDED-STATE streaming dedup, the scale answer to "exact dedup
    * needs unbounded state": `dropDuplicatesWithinWatermark` keeps a
    * key's state only until the event-time watermark passes its event
    * time + the WATERMARK DELAY (in this operator the delay IS the dedup
    * retention — there is no separate knob), so state is bounded by the
    * key arrival rate × the delay instead of the full key cardinality.
    * The trade is explicit and the gate makes it OBSERVABLE: a
    * re-delivery inside the retention is suppressed; one arriving after
    * the state expired is emitted AGAIN (exactly-once degrades to
    * at-least-once beyond the window — the documented contract). Emits
    * just the key: within one micro-batch Spark keeps whichever copy a
    * partition feeds the state store first, so the kept copy's payload
    * is racy but the EMISSION COUNT per key is deterministic.
    */
  val DedupBoundedLagMs = 2700000L

  def dedupBounded(rides: DataFrame): DataFrame =
    rides.withWatermark("rowtime", s"${DedupBoundedLagMs / 1000} seconds")
      .dropDuplicatesWithinWatermark("rideId")
      .select(col("rideId").as("ride_id"))

  /** SQL chunk-id expression — IDENTICAL integer arithmetic to the
    * harness's staged split (StreamGate.stageChunkFiles:
    * `(orderMs − t0) * chunks / span` in 64-bit integers; DuckDB `//`
    * is floor division and all operands here are non-negative, so the
    * two agree exactly). A floating-point `floor(x * 3.0 / span)`
    * formulation only agrees while `delta * chunks` stays inside
    * double's exact-integer range — never hand an oracle that caveat.
    * `arrival` and the `t0`/`span` bounds are the caller's column/CTE
    * references.
    */
  def chunkIdSql(arrival: String, t0: String, span: String,
      chunks: Int = LateChunks): String =
    s"CAST(($arrival - $t0) * $chunks // $span AS INT)"

  /** The between-batches watermark as a SQL window: running max of
    * per-chunk event-time maxima over STRICTLY EARLIER chunks, further
    * delayed by `publicationDelayBatches`. Pass 0 for a tracker that
    * updates between every batch (the late-data AUDIT's own driver
    * scalar); pass [[WatermarkPublicationDelayBatches]] for the value
    * that actually governs Spark's stateful operators in a given batch.
    * Expects a CTE exposing (chunk, mx = per-chunk max event time).
    */
  def watermarkOverSql(publicationDelayBatches: Int): String =
    s"""max(mx) OVER (ORDER BY chunk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND ${1 + publicationDelayBatches} PRECEDING)""".stripMargin

  /** The late-drop gate's sentinel ride id — shared with the oracle,
    * which reproduces the sentinel row (and its md5 jitter) verbatim so
    * both sides derive identical chunk boundaries and final watermark.
    */
  val LateSentinelId = -1000002L

  /** Deterministic bounded arrival jitter per event (md5-derived, the
    * engine's seeded stand-in for the reference's Gaussian delay):
    * hash(rideId:isStart) % (bound + 1). Replayable in SQL, so every
    * consumer (the audit, the late-drop gate) has a DuckDB oracle.
    */
  private[graft] def arrivalJitter(rideId: org.apache.spark.sql.Column,
      isStart: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(rideId.cast("string"), lit(":"),
        isStart.cast("string"))), 1, 15), 16, 10)
      .cast("long") % (LateAuditMaxDelayMs + 1)

  def lateArrivals(rides: DataFrame): DataFrame =
    rides.select(col("rideId").as("ride_id"), col("isStart").as("is_start"),
        unix_millis(col("rowtime")).as("rowtime_ms"))
      .withColumn("arrival_ms",
        col("rowtime_ms") + arrivalJitter(col("ride_id"), col("is_start")))

  /** Per micro-batch: tag each arrival late/on-time against the watermark
    * derived from STRICTLY earlier batches, then advance it. Driver
    * state is ONE long (the global watermark — the same scalar Spark's
    * tracker holds), so the audit scales with the stream, not the state.
    * Note the audit's watermark is one batch FRESHER than the one
    * governing Spark's own stateful operators (Spark publishes with a
    * batch of delay — batch N is governed by stats through N-2, pinned
    * by the stream_q1_late_drop oracle); an audit should flag everything
    * the engine COULD drop, so the tighter discipline is the right side
    * to err on.
    */
  def lateAuditStream(arrivals: DataFrame, lagMs: Long = LateAuditLagMs)(
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val wmRef = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    eachBatch(arrivals) { batch =>
      val wm = wmRef.get()
      onBatch(batch
        .withColumn("late", col("rowtime_ms") < lit(wm))
        .select("ride_id", "is_start", "rowtime_ms", "late"))
      val mx = batch.agg(max("rowtime_ms")).head().getLong(0)
      wmRef.set(math.max(wm, mx - lagMs))
    }
  }

  /** Streaming exact dedup: drop replayed/duplicate events by event key,
    * keeping state only within the watermark horizon
    * (`dropDuplicatesWithinWatermark`) — unbounded-state dedup is the
    * classic streaming-pipeline leak; bounding it by the disorder window is
    * what a replayed-at-least-once event source (like the reference's,
    * TaxiRideSource.java:162-213) actually needs. The key is
    * (rideId, isStart), NOT rideId alone: the reference data model shares
    * one rideId between a ride's START and END events (TaxiRide.java:24-38),
    * so keying on rideId would silently swallow the END of any ride shorter
    * than the watermark as a "duplicate".
    */
  def dedupEvents(rides: DataFrame): DataFrame =
    rides.withWatermark("rowtime", Watermark)
      .dropDuplicatesWithinWatermark("rideId", "isStart")

  /** Level 1 of Q4: per-cell departure count (in a stream, an unbounded
    * keyed agg whose update-mode changelog is Flink's upsert stream on key
    * `cell`).
    */
  def q4Level1(rides: DataFrame): DataFrame =
    TaxiQueries.departures(rides).groupBy("cell").agg(count(col("ride_id")).as("dept_cnt"))

  /** Temporal (as-of) table join of a fact STREAM against a frozen SCD2
    * dimension — Flink's `FOR SYSTEM_TIME AS OF` enrichment in its
    * processing shape: every arriving fact micro-batch equi-joins the
    * version table on the key and keeps the version whose
    * `[valid_from, valid_to)` interval contains the fact's event time.
    * Stateless per fact with the dimension frozen, so the emission union
    * equals the batch [[graft.operators.Relational.temporalJoinOn]] for
    * any chunking — which is exactly what the `stream_temporal_join` gate
    * hash-checks. A LIVE dimension composes the same way: snapshot the
    * version table per batch (the lake's upsert snapshot) instead of
    * capturing one DataFrame.
    *
    * `facts` carries raw event rows; the purchase projection happens here
    * so the gate replays the same bytes the batch query reads.
    */
  def temporalJoinStream(facts: DataFrame, dim: DataFrame)(
      sink: DataFrame => Unit): StreamingQuery =
    eachBatch(facts)(b => sink(graft.operators.Relational.temporalJoinOn(
      graft.operators.Relational.purchaseFacts(b), dim)))

  /** [[temporalJoinStream]] against a LIVE dimension: each fact
    * micro-batch re-snapshots the version lake that [[Scd2Stream]] is
    * concurrently maintaining, instead of capturing one frozen DataFrame.
    * Correct whenever the dimension has seen every change up to the fact
    * batch's max event time (the gate's shared chunk grid with dim-first
    * ordering guarantees it): a version whose closing change is still in
    * flight joins as the open tail, and the join's output (seg,
    * version_no) does not depend on valid_to beyond interval membership —
    * so every fact row matches the batch as-of join exactly.
    */
  def temporalJoinLiveStream(facts: DataFrame,
      lake: graft.sinks.ParquetUpsertSink)(
      sink: DataFrame => Unit): StreamingQuery =
    eachBatch(facts)(b => sink(graft.operators.Relational.temporalJoinOn(
      graft.operators.Relational.purchaseFacts(b), lake.snapshot(b.sparkSession))))
}

/** Spark analogue of Flink's `toRetractStream[Row]`
  * (TaxiRideQueries.scala:89,158): converts an update-mode keyed changelog
  * into explicit (isAdd, row) retract records — every update of a key
  * first retracts the previously-emitted row (false, old), then adds the
  * new one (true, new); first sight of a key emits only the add. This is
  * the changelog encoding the reference sink consumes
  * (Tuple2[JBool, Row], ElasticUpsertTableSink.scala:65,144-146).
  *
  * State is the last-emitted row per key — IN A DRIVER MAP, collected
  * per batch. That is a verification-harness shape only: at production
  * key cardinality the map is a driver OOM. `private[graft]` on purpose —
  * the exported retract encoder is [[LakeRetractStream]], whose state
  * lives in a bucketed parquet lake and whose emissions never transit
  * the driver; this form exists so the gates/specs can pin the lake
  * form's semantics against a trivially-auditable reference.
  */
private[graft] class RetractStream(keyFields: Seq[String]) extends Serializable {
  import org.apache.spark.sql.Row
  private val last = TrieMap.empty[String, Row]

  private def keyOf(row: Row): String =
    graft.sinks.KeyCodec.render(row, keyFields)

  /** Replay one update-mode micro-batch into retract records, in key order
    * for determinism. Returns the (isAdd, row) sequence it emitted.
    */
  def onBatch(batch: org.apache.spark.sql.DataFrame): Seq[(Boolean, Row)] = {
    val rows = batch.collect().sortBy(keyOf)
    rows.flatMap { row =>
      val k = keyOf(row)
      val retract = last.put(k, row).map((false, _))
      retract.toSeq :+ ((true, row))
    }.toSeq
  }
}

/** [[RetractStream]]'s cluster-scale form: the last-emitted row per key
  * lives in a [[graft.sinks.ParquetUpsertSink]] lake and the retract
  * records land in an append-only per-batch parquet log — no row data
  * ever transits the driver. Per batch, the encoding is three
  * distributed steps: (1) left-semi-join the state lake against the
  * batch's keys — those are the previously-emitted rows this batch
  * replaces, emitted as (is_add=false, row); (2) emit the batch itself
  * as (is_add=true, row); (3) upsert the batch into the lake. First
  * sight of a key finds no lake row, so only the add emits — the same
  * contract as the driver-map form.
  *
  * Crash contract under foreachBatch's at-least-once replay: a batch's
  * emission log is derived against the lake BEFORE that batch's upsert
  * and published as generation `emitted/batch=<id>`
  * ([[graft.core.Generations]]). A retried batch that finds its log already
  * published reuses it verbatim — the failed attempt may have partially
  * or fully upserted the lake, and re-deriving retractions against that
  * mutated lake would retract rows that were never emitted — then
  * re-runs the idempotent upsert (the sink's own crash-safe bucket
  * publish reconverges any torn state). Publish-before-mutate plus
  * reuse-on-replay is the cascade marker protocol in miniature.
  */
class LakeRetractStream(root: String, keyFields: Seq[String],
    nBuckets: Int = 8) extends Serializable {
  import org.apache.hadoop.fs.Path

  private val lake = new graft.sinks.ParquetUpsertSink(
    s"$root/state", keyFields, nBuckets)
  private val emitRoot = s"$root/emitted"

  def onBatch(batch: DataFrame, batchId: Long): Unit =
    onChangelog(batch, null, batchId)

  /** The full changelog form: `upserts` emit (false, old) + (true, new);
    * `deletes` (rows whose KEY columns name the departing entries — the
    * reference sink's delete stream) emit only (false, old) — Flink's
    * retract-without-add for a key leaving the table
    * (ElasticUpsertTableSink.scala:144-146). A key must not appear on
    * both sides of one changelog (the cascade derives deletes by
    * anti-join, so they are disjoint by construction). Same
    * publish-before-mutate / reuse-on-replay protocol as the
    * upsert-only form.
    */
  def onChangelog(upserts: DataFrame, deletes: DataFrame,
      batchId: Long): Unit = {
    val spark = upserts.sparkSession
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(batches(fs).path(batchId))) {
      // one plan execution feeds both the retract join and the upsert
      val b = upserts.persist()
      val delKeys = Option(deletes)
        .map(_.select(keyFields.map(col): _*).distinct().persist())
      try {
        // every key this changelog touches retracts its last-emitted row.
        // A key's last-emitted row lives ONLY in the state bucket the key
        // hashes to, so the retract derivation reads the TOUCHED buckets,
        // never the whole lake (O(touched buckets) per batch at any
        // scale) — and the same pre-mutation read feeds the upsert's
        // merge below, so those buckets are read once per batch, not
        // twice.
        val keys = keyFields.map(col)
        val touchedBk = lake.bucketIdsOf(delKeys.fold(b.select(keys: _*))(
          b.select(keys: _*).unionByName(_)).distinct())
        val old = lake.readBuckets(spark, touchedBk, upserts.schema).persist()
        try {
          // `b` enters the emission plan ONCE (a plan that references a
          // persisted frame twice recomputes one leg from its source, the
          // caller's upstream aggregation): tag the lake's rows and the
          // batch's rows in one union and keep a lake row only where the
          // batch upserts its key. Deleted keys retract from `old` alone.
          val tagged = old.withColumn("is_add", lit(false))
            .unionByName(b.withColumn("is_add", lit(true)))
          val upserted = tagged
            .withColumn("_up", max("is_add").over(
              org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)))
            .where(col("_up")).drop("_up")
          val out = delKeys.fold(upserted)(dk => upserted.unionByName(
              old.join(dk, keyFields, "left_semi").withColumn("is_add", lit(false))))
            .select((col("is_add") +: upserts.columns.map(col).toIndexedSeq): _*)
          batches(fs).publish(batchId)(tmp => out.write.mode("overwrite").parquet(tmp.toString))
          lake.upsertPrepared(b, delKeys.orNull, touchedBk, old)
        } finally { old.unpersist(); () }
      } finally {
        b.unpersist()
        delKeys.foreach(_.unpersist()); ()
      }
    } else lake.upsert(upserts,
      Option(deletes).map(_.select(keyFields.map(col): _*).distinct()).orNull)
    () // replay after publish: log is truth, re-upsert
  }

  /** Every (is_add, row) record emitted so far, batch id as a (long)
    * partition column — the cluster-scale consumer reads this lake
    * instead of a driver callback. After a [[compactRetractLog]] pass the
    * read is the snapshot segment (carrying batch = its sealed id) plus
    * the live logs ABOVE the seal; leftovers a torn compaction can leave
    * (a stale older segment, already-folded batch dirs) are ignored by
    * construction — the max segment id wins and logs at or below it are
    * filtered out — so the fold result is identical at every point of a
    * crashed compaction.
    */
  def emitted(spark: SparkSession): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live =
      if (batches(fs).ids.nonEmpty)
        Some(spark.read.parquet(emitRoot)
          .withColumn("batch", col("batch").cast("long")))
      else None
    segs(fs).latest match {
      case None => live.getOrElse(Generations.nothingPublished(new Path(root)))
      case Some(sealedId) =>
        val snap = spark.read.parquet(segs(fs).path(sealedId).toString)
          .withColumn("batch", lit(sealedId))
        live.map(_.filter(col("batch") > sealedId)) match {
          case Some(l) => snap.select(l.columns.map(col).toIndexedSeq: _*).unionByName(l)
          case None => snap
        }
    }
  }

  private val snapRoot = s"$root/snapshot"

  private def batches(fs: org.apache.hadoop.fs.FileSystem) =
    Generations(fs, new Path(emitRoot), "batch=")

  private def segs(fs: org.apache.hadoop.fs.FileSystem) =
    Generations(fs, new Path(snapRoot), "seg=")

  /** The highest batch id with a published emission log (the newest
    * record the changelog carries) — the natural `sealedBatchId` argument
    * for a [[compactRetractLog]] run once the stream is stopped.
    */
  def lastBatchId(spark: SparkSession): Long = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (batches(fs).latest ++ segs(fs).latest).maxOption
      .getOrElse(Generations.nothingPublished(new Path(root)))
  }

  /** RETENTION for the changelog — the verb that stops the per-batch
    * emission logs from growing without bound (at 100x a year of
    * micro-batches is the lake's dominant storage): fold every record in
    * batches `<= sealedBatchId` into ONE snapshot segment holding only
    * the NET-SURVIVING rows (each record group's adds minus retracts; a
    * consistent changelog nets every group to 0 — superseded — or 1 —
    * live), publish it atomically, and drop the folded logs. The fold a
    * consumer computes over [[emitted]] is UNCHANGED by construction:
    * net-0 groups contribute nothing to any fold and net-1 groups are
    * re-emitted as a single add.
    *
    * Crash contract: the segment publishes as generation `seg=<id>`
    * ([[graft.core.Generations]]); a crash after the publish leaves stale
    * leftovers (the older segment, folded batch dirs) that the
    * [[emitted]] reader ignores and the next call sweeps. A re-run with
    * the same seal detects the published segment and only sweeps.
    *
    * SINGLE-WRITER contract, plus one sealing rule: seal only batch ids
    * whose processing the checkpoint has committed (e.g. after the query
    * stopped, or `< ` the last committed offset) — [[onChangelog]]'s
    * replay path reuses a batch's published log verbatim, and compacting
    * a batch that can still replay would force a re-derivation against
    * the already-mutated lake.
    *
    * Returns (records folded in, records in the published segment).
    */
  def compactRetractLog(spark: SparkSession, sealedBatchId: Long): (Long, Long) =
    compactRetractLogHooked(spark, sealedBatchId)(() => ())

  private[graft] def compactRetractLogHooked(spark: SparkSession,
      sealedBatchId: Long)(afterPublish: () => Unit): (Long, Long) = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // already published: repair only
    if (fs.exists(segs(fs).path(sealedBatchId))) { sweep(fs); return (0L, 0L) }
    val cur = segs(fs).latest
    require(cur.forall(_ <= sealedBatchId),
      s"seal $sealedBatchId is below the published segment ${cur.get}")
    val input = emitted(spark).filter(col("batch") <= sealedBatchId)
    val valueCols = input.columns.filterNot(c => c == "is_add" || c == "batch").toSeq
    // nrec (records per group) rides the fold so the consistency check,
    // the before-count, and the after-count all come from ONE small
    // aggregation over the cached fold — the previous shape re-read the
    // whole emission log a second time just for `before = input.count()`
    val folded = input.groupBy(valueCols.map(col): _*)
      .agg(sum(when(col("is_add"), 1L).otherwise(-1L)).as("mult"),
        count(lit(1)).as("nrec"))
      .persist()
    try {
      // coalesce: over an EMPTY fold (a seal covering only batches whose
      // logs carry zero records) the sums are NULL and getLong would NPE —
      // an empty log audits clean and publishes an empty segment (r21
      // ADVICE)
      val audit = folded.agg(
        coalesce(sum(when(col("mult") =!= 0L && col("mult") =!= 1L, 1L)
          .otherwise(0L)), lit(0L)).as("bad"),
        coalesce(sum("nrec"), lit(0L)).as("before"),
        coalesce(sum(when(col("mult") === 1L, 1L).otherwise(0L)), lit(0L))
          .as("after")).head()
      val bad = audit.getLong(0)
      require(bad == 0L,
        s"changelog is inconsistent: $bad record groups with net multiplicity outside {0,1}")
      val before = audit.getLong(1)
      val snap = folded.filter(col("mult") === 1L)
        .withColumn("is_add", lit(true))
        .select((col("is_add") +: valueCols.map(col)).toIndexedSeq: _*)
      val after = audit.getLong(2)
      segs(fs).publish(sealedBatchId)(tmp => snap.write.mode("overwrite").parquet(tmp.toString))
      afterPublish() // crash-injection seam: leftovers below are sweepable
      sweep(fs)
      (before, after)
    } finally { folded.unpersist(); () }
  }

  /** THE RETENTION POLICY — the retract log's member of the maintenance-
    * trigger family (the index families run `compactIfFragmentedWith`;
    * this artifact fragments by LOG COUNT, not files-per-bucket): one
    * listing of the emission root counts the live batch logs above the
    * current seal — pure metadata, zero data jobs, the steady-state cost
    * of the policy — and the full [[compactRetractLog]] fold runs only
    * past `maxLiveLogs`, sealing up to `committedBatchId`.
    *
    * `committedBatchId` is the COMMITTED WATERMARK and the caller must
    * supply it explicitly: [[onChangelog]] publishes a batch's log
    * BEFORE the streaming checkpoint commits its offsets, so a trigger
    * that implicitly sealed the max PUBLISHED id could — racing a live
    * writer — seal a batch whose crash-replay would then find its log
    * folded away and be forced to re-derive against the already-mutated
    * lake. Quiescent callers (after `processAllAvailable`, or a stopped
    * query) pass [[lastBatchId]]; a scheduler running beside a live
    * writer passes the last batch id the checkpoint's commit log names.
    * Logs above the watermark neither count toward the fire decision
    * (they are not sealable yet) nor get folded.
    *
    * Returns (committed live log count measured, fired?).
    */
  def compactRetractLogIfLong(spark: SparkSession, maxLiveLogs: Int,
      committedBatchId: Long): (Long, Boolean) = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sealedId = segs(fs).latest.getOrElse(-1L)
    val sealable = batches(fs).ids.filter(id => id > sealedId && id <= committedBatchId)
    val live = sealable.length.toLong
    if (live > maxLiveLogs) {
      compactRetractLog(spark, sealable.max); (live, true)
    } else (live, false)
  }

  /** Drop everything the max published segment supersedes: older
    * segments, batch logs at or below the seal, and any temp dirs. Safe
    * at every torn state — the reader never looks at what this deletes.
    */
  private def sweep(fs: org.apache.hadoop.fs.FileSystem): Unit =
    segs(fs).latest.foreach { sealedId =>
      segs(fs).sweepBelow(sealedId)()
      batches(fs).sweepBelow(sealedId + 1)()
    }
}

/** Stateful two-level cascade for Q4 (TaxiRideQueries.scala:148-167),
  * merged DISTRIBUTIVELY — no row data ever transits the driver.
  *
  * Level 1 (cell -> dept_cnt) is materialized in a [[graft.sinks.ParquetUpsertSink]]
  * lake under the checkpoint; level 2 (dept_cnt -> cnt_freq) lands in the
  * caller's sink. Each update-mode micro-batch delivers the changed
  * (cell, dept_cnt) pairs as a DataFrame, and the steady-state batch is a
  * RETRACTION DELTA, the Flink cascade's own update rule
  * (ElasticUpsertTableSink.scala:144-146):
  *
  *  1. one full-outer join of the touched level-1 buckets with the batch
  *     on `cell` gives every changed cell's OLD and NEW count;
  *  2. the histogram delta — -1 at each old count, +1 at each new count,
  *     summed by dept_cnt — is the only driver collect besides the bucket
  *     probe: at most [[TouchedCap]] + 1 (dept_cnt, delta, level-2 bucket)
  *     rows, keyed by COUNT VALUES (the histogram's domain, concentrated
  *     small integers), never by cells;
  *  3. the same join rewrites the touched level-1 buckets
  *     (`coalesce(new, old)`);
  *  4. one full-outer join of the touched level-2 buckets with the delta
  *     rewrites those buckets; the delta's keys are the changelog: upserts
  *     where the new frequency is above 0, deletes — the (false, row) path
  *     of the reference sink contract — where it is 0. A frequency that
  *     would go negative fails the batch loudly before the level-2 publish.
  *
  * Neither lake is ever scanned whole on this path. The level-2 histogram
  * is RECOMPUTED from the level-1 lake (groupBy(dept_cnt).count over the
  * touched keys, or everything) only to recover: when a replay marker
  * survives, or when the delta has more than [[TouchedCap]] keys.
  *
  * Crash protocol: the touched key set is published to a marker file
  * BEFORE any lake mutation, and markers are deleted only after the
  * level-2 publish for their keys completed — so with no surviving marker
  * the two lakes agree. That is why the delta is idempotent: a batch
  * replayed after the markers were cleared reads old == new for every
  * changed cell, gets an all-zero delta and rewrites the same rows. A
  * torn attempt (say, level 1 upserted, crash before level 2) leaves its
  * marker behind; the retry then unions all surviving markers into its
  * own touched set and re-derives those keys from level-1 truth — on
  * replay old == new, so the batch alone would never revisit the OLD key,
  * and its frequency would stay stale forever.
  */
object CascadeQ4 {
  import graft.sinks.ParquetUpsertSink

  /** Reference single-update merge semantics (retract old bucket, add new),
    * exposed for the changelog-replay spec; [[applyBatch]] applies the same
    * rule to a whole micro-batch at once.
    */
  def applyUpdate(cellCounts: TrieMap[Int, Long], histogram: TrieMap[Long, Long],
                  cell: Int, newCnt: Long): Unit = {
    val old = cellCounts.put(cell, newCnt)
    if (old.contains(newCnt)) return // no-op update
    old.foreach { o =>
      val dec = histogram.getOrElse(o, 0L) - 1
      if (dec <= 0L) histogram.remove(o) else histogram.put(o, dec)
    }
    histogram.put(newCnt, histogram.getOrElse(newCnt, 0L) + 1L)
  }

  /** Driver-side cap on the collected histogram delta (one row per touched
    * dept_cnt); beyond it the batch recomputes the whole histogram
    * distributively instead.
    */
  private[streaming] val TouchedCap = 10000

  private val Level1Schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("dept_cnt", org.apache.spark.sql.types.LongType)))

  private val Level2Schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("dept_cnt", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cnt_freq", org.apache.spark.sql.types.LongType)))

  private def markerDir(checkpoint: String) =
    new org.apache.hadoop.fs.Path(checkpoint, "graft-cascade-markers")

  // Level-1 lake read tolerating the not-yet-created state (first batch).
  private def level1Snapshot(spark: SparkSession, lake: ParquetUpsertSink,
                             fs: org.apache.hadoop.fs.FileSystem): DataFrame =
    if (fs.exists(new org.apache.hadoop.fs.Path(lake.path))) lake.snapshot(spark)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Level1Schema)

  // ---- replay markers ------------------------------------------------------
  // One file per in-flight batch ATTEMPT: "ALL" or newline-separated bucket
  // ids, published by [[Commit.writeFile]]. Every attempt publishes under
  // a fresh unique name — replacing the previous attempt's
  // marker in place (delete + rename) would open a window with NO marker on
  // disk, and a crash there permanently reopens the stale-bucket divergence
  // this protocol exists to close. Attempts accumulate only until the
  // batch's level-2 publish completes (clearMarkers); readMarkers unions
  // whatever survives.

  private[graft] def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path,
                          batchId: Long, buckets: Option[Seq[Long]]): Unit = {
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    Commit.writeFile(fs, new org.apache.hadoop.fs.Path(dir, s"$batchId-$attempt.tmp"),
      new org.apache.hadoop.fs.Path(dir, s"$batchId-$attempt.marker"),
      buckets.fold("ALL\n")(_.map(b => s"$b\n").mkString))
  }

  /** All surviving markers' buckets; None = some marker says ALL. */
  private def readMarkers(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path): Option[Seq[Long]] =
    if (!fs.exists(dir)) Some(Nil)
    else {
      val lines = fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.endsWith(".marker"))
        .flatMap { st =>
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(st.getPath)))
          try Iterator.continually(in.readLine()).takeWhile(_ != null).filter(_.nonEmpty).toList
          finally in.close()
        }
      if (lines.contains("ALL")) None else Some(lines.map(_.toLong))
    }

  private def clearMarkers(fs: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".marker") || n.endsWith(".tmp")) fs.delete(st.getPath, false)
    }

  /** One micro-batch of the distributed cascade (factored out for direct
    * spec coverage of the crash/replay protocol). `batch` holds one
    * (cell, dept_cnt) row per changed cell, as the update-mode level-1
    * aggregation emits. The steady state applies the histogram delta to
    * the touched level-2 buckets; a surviving marker or a delta over
    * [[TouchedCap]] keys recomputes from the level-1 lake instead (see the
    * object doc for why the delta is idempotent).
    */
  private[graft] def applyBatch(level1: ParquetUpsertSink, level2: ParquetUpsertSink,
                                    markers: org.apache.hadoop.fs.Path,
                                    batch: Dataset[Row], batchId: Long,
                                    mirror: NetworkUpsertSink = null,
                                    retract: LakeRetractStream = null): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val fs = markers.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every plan below references this cache ONCE: a plan that references
    // a cached frame twice (a self-union or self-join) recomputes one leg
    // from its source although the cache is full — here, re-running the
    // level-1 aggregation and its state commit
    val changed = batch
      .select(col("cell").cast("int").as("cell"), col("dept_cnt").cast("long").as("new_cnt"))
      .persist()
    try {
      // A changed cell's old count lives ONLY in the level-1 bucket the
      // cell hashes to, so one join of the TOUCHED buckets with the batch
      // gives each cell's old and new count — never a whole-lake scan.
      val touchedBk = level1.bucketIdsOf(changed)
      val cells = level1.readBuckets(spark, touchedBk, Level1Schema)
        .withColumnRenamed("dept_cnt", "old_cnt")
        .join(changed, Seq("cell"), "full_outer")
        .persist()
      try {
        // histogram delta: -1 at each changed cell's old count, +1 at its
        // new one; its keys are the touched level-2 keys (old UNION new)
        val moves = cells.where(col("new_cnt").isNotNull)
          .select(explode(array(
            struct(col("old_cnt").as("dept_cnt"), lit(-1L).as("d")),
            struct(col("new_cnt").as("dept_cnt"), lit(1L).as("d")))).as("m"))
          .where(col("m.dept_cnt").isNotNull)
          .groupBy(col("m.dept_cnt").as("dept_cnt")).agg(sum(col("m.d")).as("d"))
        // one partition under the limit: a limit over several runs as
        // an incremental take, one job for the first partition and
        // another for the rest
        val delta = level2.bucketed(moves).coalesce(1).limit(TouchedCap + 1)
          .as[(Long, Long, Int)].collect().toSeq
        val surviving = readMarkers(fs, markers)
        val touched: Option[Seq[Long]] =
          if (delta.length > TouchedCap) None
          else surviving.map(m => (delta.map(_._1) ++ m).distinct)
        writeMarker(fs, markers, batchId, touched) // BEFORE any lake mutation
        // level-1 lake absorbs the batch (idempotent on replay)
        level1.replaceBuckets(cells.select(col("cell"),
          coalesce(col("new_cnt"), col("old_cnt")).as("dept_cnt")), touchedBk)
        if (surviving == Some(Nil) && touched.isDefined)
          applyDelta(spark, level2, delta, batchId, mirror, retract)
        else recompute(spark, level1, level2, fs, touched, batchId, mirror, retract)
      } finally { cells.unpersist(); () }
      // lakes now agree with level-1 truth for every marked key
      clearMarkers(fs, markers)
    } finally {
      changed.unpersist()
      ()
    }
  }

  /** Steady state: add `delta` ((dept_cnt, delta, level-2 bucket) rows)
    * to the touched level-2 buckets and emit the delta's keys as the
    * changelog.
    */
  private def applyDelta(spark: SparkSession, level2: ParquetUpsertSink,
      delta: Seq[(Long, Long, Int)], batchId: Long,
      mirror: NetworkUpsertSink, retract: LakeRetractStream): Unit = {
    import spark.implicits._
    val buckets = delta.map(_._3).distinct
    val freq = coalesce(col("cnt_freq"), lit(0L)) + coalesce(col("d"), lit(0L))
    val next = level2.readBuckets(spark, buckets, Level2Schema)
      .join(delta.map(r => (r._1, r._2)).toDF("dept_cnt", "d"), Seq("dept_cnt"), "full_outer")
      .select(col("dept_cnt"),
        // the lakes disagree (a lost marker or a hand edit): fail before
        // the level-2 publish, so the marker survives and the retry
        // recomputes these keys from level-1 truth
        when(freq < 0, raise_error(concat(lit("cascade level 2: negative cnt_freq for dept_cnt "),
          col("dept_cnt").cast("string")))).otherwise(freq).as("cnt_freq"),
        col("d").isNotNull.as("in_delta"))
      .persist()
    try {
      level2.replaceBuckets(next.where(col("cnt_freq") > 0).select("dept_cnt", "cnt_freq"), buckets)
      val keys = next.where(col("in_delta"))
      val ups = keys.where(col("cnt_freq") > 0).select("dept_cnt", "cnt_freq")
      val dels = keys.where(col("cnt_freq") === 0).select("dept_cnt", "cnt_freq")
      emit(ups, dels, batchId, mirror, retract)
    } finally { next.unpersist(); () }
  }

  /** Recovery: recompute the `touched` keys (None = all) of the histogram
    * from the level-1 lake and upsert them, deleting keys with no cell.
    */
  private def recompute(spark: SparkSession, level1: ParquetUpsertSink,
      level2: ParquetUpsertSink, fs: org.apache.hadoop.fs.FileSystem,
      touched: Option[Seq[Long]], batchId: Long,
      mirror: NetworkUpsertSink, retract: LakeRetractStream): Unit = {
    import spark.implicits._
    val freshAll = level1Snapshot(spark, level1, fs)
      .groupBy("dept_cnt").agg(count(lit(1)).as("cnt_freq"))
    touched match {
      case Some(keys) =>
        val touchedDf = keys.toDF("dept_cnt")
        val fresh = freshAll.join(broadcast(touchedDf), "dept_cnt").persist()
        val dels = touchedDf.join(fresh.select("dept_cnt"), Seq("dept_cnt"), "left_anti")
          .withColumn("cnt_freq", lit(0L))
        try {
          level2.upsert(fresh, dels)
          emit(fresh, dels, batchId, mirror, retract)
        } finally { fresh.unpersist(); () }
      case None =>
        // histogram domain too wide for a driver-side id list: recompute
        // everything; deletes = lake keys with no surviving bucket
        val existing =
          if (fs.exists(new org.apache.hadoop.fs.Path(level2.path))) level2.snapshot(spark)
          else null
        val dels = Option(existing).map(_.select("dept_cnt")
          .join(freshAll.select("dept_cnt"), Seq("dept_cnt"), "left_anti")
          .withColumn("cnt_freq", lit(0L))).orNull
        level2.upsert(freshAll, dels)
        emit(freshAll, dels, batchId, mirror, retract)
    }
  }

  // the level-2 (upserts, deletes) changelog IS the reference's Elastic
  // upsert/delete stream; replay after a crash re-sends full documents,
  // which the keyed store absorbs idempotently — and the same changelog
  // retract-encodes: delete = retract-without-add (the mirror's own
  // (false, row) path)
  private def emit(ups: DataFrame, dels: DataFrame, batchId: Long,
      mirror: NetworkUpsertSink, retract: LakeRetractStream): Unit = {
    if (mirror != null) mirror.applyChangelog(ups, dels)
    if (retract != null) retract.onChangelog(ups, dels, batchId)
  }

  /** Start the full streaming cascade: level-1 update-mode agg ->
    * foreachBatch distributed merge -> histogram upserted into `sink`
    * (keyed by dept_cnt, the terminal groupBy column, as the reference's
    * key inference would derive). Restart-safe: both levels live in
    * crash-published parquet lakes, so a restarted driver resumes from the
    * checkpointed level-1 agg state plus the persisted lakes — replaying
    * the in-flight batch reconverges via the marker protocol above.
    */
  def startToParquet(rides: DataFrame, sink: ParquetUpsertSink,
                     checkpoint: String): StreamingQuery =
    startToParquetFrom(StreamingQueries.q4Level1(rides), sink, checkpoint)

  /** [[startToParquet]] with the level-1 update changelog supplied by the
    * caller (columns cell, dept_cnt — [[StreamingQueries.q4Level1]] over the
    * caller's ride stream) and the optional consumers of the level-2
    * changelog: a document-store `mirror` and a `retract` stream.
    */
  def startToParquetFrom(level1Changelog: DataFrame, sink: ParquetUpsertSink,
                     checkpoint: String,
                     mirror: NetworkUpsertSink = null,
                     retract: LakeRetractStream = null): StreamingQuery = {
    val level1 = new ParquetUpsertSink(
      new org.apache.hadoop.fs.Path(checkpoint, "graft-cascade-level1").toString,
      Seq("cell"), sink.nBuckets)
    val markers = markerDir(checkpoint)
    // not on eachBatch: update mode, AvailableNow, and the batch id the markers key on
    level1Changelog
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyBatch(level1, sink, markers, batch, batchId, mirror, retract)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }
}

/** Continuous keyed count with idle-state TTL — the reference's
  * `withIdleStateRetentionTime(Time.hours(1), Time.hours(2))` query config
  * (TaxiRideQueries.scala:97-99, SURVEY A6): keys receiving no events for
  * the retention period are evicted from state (their count restarts from
  * zero if they reappear — exactly Flink's idle-state cleanup contract).
  *
  * Implemented with flatMapGroupsWithState + EventTimeTimeout: eviction is
  * driven by the watermark, so behavior is deterministic and testable
  * (processing-time TTL would be wall-clock-dependent).
  */
object TtlContinuousCount {

  // carries the watermarked timestamp column itself: EventTimeTimeout
  // requires the event-time attribute to reach the stateful operator
  case class Keyed(cell: Int, rowtime: java.sql.Timestamp)
  case class CountState(cnt: Long, maxRowtimeMs: Long)
  case class CellCount(cell: Int, dept_cnt: Long)

  def count(ttlMs: Long)(key: Int, rows: Iterator[Keyed],
                         state: GroupState[CountState]): Iterator[CellCount] = {
    if (state.hasTimedOut) { // watermark passed last activity + TTL: evict
      state.remove()
      Iterator.empty
    } else {
      val prev = state.getOption.getOrElse(CountState(0L, Long.MinValue))
      val batch = rows.toSeq
      val cnt = prev.cnt + batch.size
      val maxRowtimeMs = (prev.maxRowtimeMs +: batch.map(_.rowtime.getTime)).max
      state.update(CountState(cnt, maxRowtimeMs))
      // TTL is measured from THIS KEY's latest event time (Flink's idle-state
      // contract: retention is per-key activity, not global progress). Arming
      // from the watermark instead would evict keys seen in the first batch
      // (watermark 0 -> timeout ~epoch) and generally measure idleness from
      // the lagging watermark. Clamp above the current watermark because
      // setTimeoutTimestamp rejects timestamps the watermark already passed
      // (a very-late straggler's rowtime + TTL can be in the past).
      state.setTimeoutTimestamp(math.max(maxRowtimeMs + ttlMs, state.getCurrentWatermarkMs() + 1))
      Iterator.single(CellCount(key, cnt))
    }
  }

  /** rides stream -> per-cell running departure counts with idle TTL
    * (update-style changelog, one row per touched key per batch).
    */
  def query(rides: DataFrame, ttlMs: Long): Dataset[CellCount] = {
    val spark = rides.sparkSession
    import spark.implicits._
    TaxiQueries.departures(rides)
      .withWatermark("rowtime", StreamingQueries.Watermark)
      .select(col("cell"), col("rowtime"))
      .as[Keyed]
      .groupByKey(_.cell)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.EventTimeTimeout())(count(ttlMs))
  }
}

/** Streaming OVER-window state for Q3 (TaxiRideQueries.scala:130-146):
  * per cell, a time-ordered buffer of departure timestamps; each arriving
  * departure is annotated with the count of same-cell departures in the
  * trailing 10 minutes of event time. Buffer entries older than
  * (max seen event time - 10 min) can never affect future rows (rows
  * arrive at most `maxOutOfOrder` late) and are pruned — the Spark
  * analogue of Flink's OVER-window state cleanup.
  */
object OverWindowState {

  case class Departure(rideId: Long, cell: Int, deptTimeMs: Long)
  case class Annotated(ride_id: Long, cell: Int, dept_time: Long, dept_cnt: Long)
  case class CellBuffer(times: List[Long], maxSeenMs: Long)

  val WindowMs: Long = 10 * 60 * 1000
  val MaxLatenessMs: Long = 61 * 1000 // demo maxOutOfOrder 60 s + 1

  /** Counts are over data seen so far (rows sorted by event time within a
    * batch); a straggler crossing a batch boundary gets a correct count for
    * its own timestamp but already-emitted rows are not retro-updated —
    * the same emit-once contract as Flink's append OVER output. The
    * trailing frame is a parameter — the same operator at any RANGE width
    * (the q3_over_recent 7-day form runs through this in the stream gate).
    */
  def annotateWith(windowMs: Long)(key: Int, rows: Iterator[Departure],
               state: GroupState[CellBuffer]): Iterator[Annotated] = {
    val buf = state.getOption.getOrElse(CellBuffer(Nil, Long.MinValue))
    var times = buf.times
    var maxSeen = buf.maxSeenMs
    // process per distinct timestamp: equal-timestamp rows are RANGE-frame
    // peers and must count each other (adding one-at-a-time undercounted
    // the earlier-sorted peer vs the batch q3OverWindow / Flink semantics)
    val out = rows.toSeq.sortBy(d => (d.deptTimeMs, d.rideId))
      .groupBy(_.deptTimeMs).toSeq.sortBy(_._1)
      .flatMap { case (ts, peers) =>
        peers.foreach { _ => times = ts :: times }
        maxSeen = math.max(maxSeen, ts)
        val cnt = times.count(t => t >= ts - windowMs && t <= ts)
        peers.sortBy(_.rideId).map(d => Annotated(d.rideId, key, ts, cnt))
      }
    // prune entries invisible to any future row: the earliest timestamp a
    // future row can carry is maxSeen - MaxLatenessMs, and it looks back
    // WindowMs further
    val horizon = maxSeen - windowMs - MaxLatenessMs
    state.update(CellBuffer(times.filter(_ >= horizon), maxSeen))
    out.iterator
  }

  /** rides stream -> per-departure trailing-10-min counts (append stream,
    * one row per input row — the reference's Q3 output contract).
    */
  def q3Streaming(rides: DataFrame, windowMs: Long = WindowMs): Dataset[Annotated] = {
    val spark = rides.sparkSession
    import spark.implicits._
    TaxiQueries.departures(rides)
      .select(col("ride_id").as("rideId"), col("cell"), unix_millis(col("rowtime")).as("deptTimeMs"))
      .as[Departure]
      .groupByKey(_.cell)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        annotateWith(windowMs))
  }
}

/** STREAMING FUNNEL — the continuous form of
  * [[graft.operators.Relational.funnel]]: per user, the earliest view,
  * the earliest click within the step window strictly after it, the
  * earliest purchase within the window after that, maintained as events
  * arrive out of order.
  *
  * Correctness argument: the batch funnel is a fold over the user's
  * events in event-time order (each step takes the FIRST qualifying
  * event — chained strict minima). Events at or below the watermark are
  * FINAL (no earlier event can still arrive, that's the watermark
  * contract), so folding exactly the finalized prefix in timestamp order
  * gives the batch answer on that prefix; later-than-watermark arrivals
  * for already-folded territory are ignored, the same emit-once contract
  * as the streaming OVER window. Pending (not-yet-final) events buffer in
  * state bounded by the user's event rate × watermark delay; the folded
  * state itself is three longs. An event-time timeout re-fires the fold
  * when the watermark passes the oldest pending event, so progress never
  * depends on more events arriving for that user.
  */
object FunnelStream {
  import graft.operators.Relational.FunnelStepGapMs

  case class FunnelEvent(userId: Long, ts: java.sql.Timestamp, eventType: String)
  case class FunnelState(pending: List[(Long, String)], foldedUpTo: Long,
      tView: Long, tClick: Long, tPurchase: Long)
  case class FunnelUpdate(user_id: Long, t_view: Option[Long],
      t_click: Option[Long], t_purchase: Option[Long], funnel_depth: Int)

  private def foldReady(st: FunnelState, wmMs: Long): FunnelState = {
    val (ready, still) = st.pending.partition(_._1 <= wmMs)
    var (tv, tc, tp) = (st.tView, st.tClick, st.tPurchase)
    ready.sortBy(e => (e._1, e._2)).foreach { case (ts, tpe) =>
      if (tv < 0) { if (tpe == "view") tv = ts }
      else if (tc < 0) { if (tpe == "click" && ts > tv && ts <= tv + FunnelStepGapMs) tc = ts }
      else if (tp < 0) { if (tpe == "purchase" && ts > tc && ts <= tc + FunnelStepGapMs) tp = ts }
    }
    FunnelState(still, math.max(st.foldedUpTo, wmMs), tv, tc, tp)
  }

  private def snapshot(userId: Long, st: FunnelState): FunnelUpdate = {
    def opt(v: Long) = if (v >= 0) Some(v) else None
    FunnelUpdate(userId, opt(st.tView), opt(st.tClick), opt(st.tPurchase),
      if (st.tPurchase >= 0) 3 else if (st.tClick >= 0) 2 else if (st.tView >= 0) 1 else 0)
  }

  private def update(key: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[FunnelUpdate] = {
    val prev = state.getOption.getOrElse(
      FunnelState(Nil, Long.MinValue, -1L, -1L, -1L))
    val wm = state.getCurrentWatermarkMs()
    // drop beyond-watermark stragglers for territory already folded
    // (emit-once: no retro-updates), buffer the rest
    val fresh = rows.map(e => (e.ts.getTime, e.eventType))
      .filter(_._1 > prev.foldedUpTo).toList
    val st = foldReady(prev.copy(pending = fresh ::: prev.pending), wm)
    if (st.pending.nonEmpty && st.pending.map(_._1).min > wm)
      state.setTimeoutTimestamp(st.pending.map(_._1).min)
    state.update(st)
    // first contact always has fresh.nonEmpty, so fold-progress equality is
    // the only other emit trigger
    val changed = (st.tView, st.tClick, st.tPurchase) !=
      ((prev.tView, prev.tClick, prev.tPurchase))
    if (changed || fresh.nonEmpty) Iterator.single(snapshot(key, st)) else Iterator.empty
  }

  /** events stream (user_id, ts TIMESTAMP, event_type) -> per-user funnel
    * snapshots in update mode, under the demo watermark.
    */
  def funnelStream(events: DataFrame): Dataset[FunnelUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", StreamingQueries.Watermark)
      .filter(col("event_type").isin("view", "click", "purchase"))
      // keep the watermarked ts column itself: event-time timeout requires
      // the stateful op's input to carry the watermark column
      .select(col("user_id").as("userId"), col("ts"),
        col("event_type").as("eventType"))
      .as[FunnelEvent]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }
}

/** STREAMING SCD2 BUILD — the slowly-changing dimension maintained
  * INCREMENTALLY as its changelog arrives: the continuous form of
  * [[graft.operators.Relational.scd2Versions]], and the missing half of a
  * live temporal-join stack (facts enrich against the version lake this
  * stream maintains; the frozen-dimension form is
  * [[StreamingQueries.temporalJoinStream]]).
  *
  * Emission is an UPSERT changelog keyed (user_id, version_no) — Flink's
  * upsert stream, the same contract the cascade's level-2 sink consumes:
  * opening a version emits it with the open-tail sentinel; the change
  * that closes it re-emits the same key with its real valid_to. Each key
  * is emitted at most once per micro-batch (the handler folds
  * open-then-close within a batch into the closed row), so the upsert
  * fold is order-free inside a batch.
  *
  * Correctness argument: the batch build detects change rows against the
  * previous EVENT (not the previous change) in (ts_us, event_id) order,
  * then collapses same-microsecond changes to the last event. The replay
  * contract delivers events time-ordered across batches and whole
  * microseconds within one batch (chunk id is a monotone function of
  * ts), so per-key state of (last event's seg, the open version) is
  * exactly the fold cursor of that derivation — the upsert-fold of the
  * emission equals the batch version table after any prefix of complete
  * chunks.
  *
  * Scale: state is 2 strings + 2 longs per key; emission is one row per
  * version change. Nothing re-reads history.
  */
object Scd2Stream {
  import graft.operators.Relational.Scd2OpenUs

  case class Scd2Event(user_id: Long, seg: String, ts_us: Long, event_id: Long)
  case class Scd2State(prevSeg: String, openSeg: String, openFrom: Long, openVer: Int)
  case class Scd2Version(user_id: Long, seg: String, valid_from_us: Long,
      valid_to_us: Long, version_no: Int)

  /** The per-batch fold cursor: change detection against the previous
    * EVENT in (ts, id) order, same-microsecond changes collapsed to the
    * last event (the batch build's uniq step), upserts keyed by version_no
    * (each key at most once per batch).
    */
  private def update(key: Long, rows: Iterator[Scd2Event],
      state: GroupState[Scd2State]): Iterator[Scd2Version] = {
    val prev = state.getOption.getOrElse(Scd2State(null, null, 0L, 0))
    var prevSeg = prev.prevSeg
    val changes = scala.collection.mutable.ArrayBuffer.empty[Scd2Event]
    rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      if (prevSeg == null || prevSeg != e.seg) changes += e
      prevSeg = e.seg
    }
    // sorted order makes the same-microsecond group's last entry the survivor
    val collapsed = changes.toSeq.groupBy(_.ts_us).toSeq.sortBy(_._1).map(_._2.last)
    val out = scala.collection.mutable.LinkedHashMap.empty[Int, Scd2Version]
    var (openSeg, openFrom, openVer) = (prev.openSeg, prev.openFrom, prev.openVer)
    collapsed.foreach { c =>
      if (openSeg != null)
        out(openVer) = Scd2Version(key, openSeg, openFrom, c.ts_us, openVer)
      openVer += 1; openSeg = c.seg; openFrom = c.ts_us
      out(openVer) = Scd2Version(key, openSeg, openFrom, Scd2OpenUs, openVer)
    }
    state.update(Scd2State(prevSeg, openSeg, openFrom, openVer))
    out.valuesIterator
  }

  /** Non-purchase events stream (raw rows) -> SCD2 upsert changelog. */
  def scd2Stream(events: DataFrame): Dataset[Scd2Version] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("seg"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[Scd2Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
