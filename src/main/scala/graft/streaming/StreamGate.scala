package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
import graft.core.Tables
import graft.sinks.{MemoryDocStore, MemoryUpsertSink, NetworkUpsertSink, ParquetUpsertSink}
import graft.sources.Rides

/** Driver-gate harness putting the STREAMING layer under the same DuckDB
  * oracle as its batch twins (the reference's flagship queries are
  * streaming — TaxiRideQueries.scala:33-37,148-167 — so batch-only oracle
  * rows verify half the claim). Each `stream_*` entry replays the exact
  * batch input as a deterministic sequence of time-ordered parquet chunk
  * files, runs the streaming operator through REAL micro-batches (one
  * chunk per trigger), materializes the final table, and returns it with
  * the batch query's column names and total ordering — so the batch
  * oracle hash-checks the streaming execution.
  *
  * Replay contract: chunk assignment is a monotone function of event
  * time, so replay is globally time-ordered across micro-batches and
  * nothing is ever late — the gate verifies exact batch parity;
  * late-data/watermark-drop semantics are pinned separately by
  * StreamingSpec. Where append-mode output needs the watermark to pass
  * the last real event to finalize (sessions, funnel folds), a far-future
  * sentinel row advances it and is excluded from the returned table —
  * the same technique StreamingSpec uses.
  *
  * Every gate runs inside [[gate]], which owns its scratch dirs, scratch
  * tables, memory-sink views and session-conf scope and releases all of
  * them whether the body returns or throws; the result is MATERIALIZED
  * into the driver first (bounded by the verify-SF result size). Staged
  * replay chunks are SHARED across gates and runs via [[stage]] (one copy
  * per logical input per JVM, deleted at exit) — repeated bench runs must
  * not accumulate staged table copies in /tmp or pin memory-sink tables
  * for the session's life.
  *
  * This object is verification scaffolding bounded by the verify SF
  * (single-file chunk writes, driver-side min/max scalars); the operators
  * it drives are the production ones in [[StreamingQueries]] /
  * [[CascadeQ4]] / [[FunnelStream]].
  */
object StreamGate {

  /** Micro-batches per replay: enough to exercise cross-batch state
    * accumulation without dominating verify wall-clock.
    */
  val Chunks = 6

  /** State and shuffle width of every gate scope. Every stateful operator
    * instantiates one state store PER shuffle partition, and each store
    * pays a fixed commit cost PER MICRO-BATCH (delta file + CRC + fsync;
    * a stream-stream join carries four stores per partition) — measured
    * ~100 ms/store/batch on this box, so a zero-row micro-batch at the
    * session default of 32 partitions burned 3.7 s of pure commit
    * overhead and q8's replay ran 36 s vs 8.6 s at width 8. Sizing state
    * partitions to the workload is a first-class streaming knob, not a
    * harness hack: in a real deployment the width is frozen into the
    * checkpoint at first start and must be chosen for the state volume,
    * while the batch default serves scans and joins. Re-probed across the
    * FULL 29-gate set at sf0.1 (r15, shm scratch): width 8 = 117.5 s,
    * width 4 = 108.6 s, with the state-heaviest gates (q8 pair join's 4
    * stores/partition, the OVER buffers, funnel, bm25 ingest) gaining
    * 15-30% and every regression inside the box's ±25 % noise band; the
    * 20x dedup_events probe measured 33.4 s steady at width 4 vs width 8's
    * 32.7 s — per-row state insertion, not partition width (README scale
    * notes carry the full table).
    */
  private val Width = 4

  /** Scratch root for gate checkpoints, lakes, and staged replay chunks.
    * Micro-batch commit machinery writes MANY small files per batch
    * (offset log, commit log, one state-store delta + CRC per partition
    * per stateful operator) — on this box that IO lands on a spinning
    * /tmp and is pure harness overhead, not operator work. Gate scratch
    * therefore prefers the RAM-backed /dev/shm when it exists and is
    * writable, falling back to java.io.tmpdir. This moves only the
    * VERIFICATION harness's scratch: operator output contracts
    * (ParquetUpsertSink lakes a caller persists, ModelTables) are
    * unaffected, and a real deployment points checkpoints at durable
    * storage — the per-batch delta/changelog SHAPE the gates exercise is
    * identical either way. SPARK_GRAFT_GATE_SCRATCH overrides (e.g. to
    * force disk when measuring the IO cost itself).
    */
  private[graft] val scratchRoot: Path = {
    val chosen = sys.env.get("SPARK_GRAFT_GATE_SCRATCH")
      .map(Paths.get(_))
      .orElse(Some(Paths.get("/dev/shm"))
        .filter(p => Files.isDirectory(p) && Files.isWritable(p)))
    chosen match {
      case Some(base) =>
        val d = base.resolve("graft-gate-scratch")
        Files.createDirectories(d)
        d
      case None => Paths.get(System.getProperty("java.io.tmpdir"))
    }
  }

  private def gateTmp(prefix: String): Path =
    Files.createTempDirectory(scratchRoot, prefix)

  private val runId = new AtomicInteger(0)

  private def rmrf(p: Path): Unit = {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(x => Files.deleteIfExists(x))
      finally walk.close()
    }
    ()
  }

  /** Pin a result into driver memory so it survives the deletion of the
    * temp dirs / memory-sink tables it was computed from.
    */
  private def materialize(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toList.asJava, df.schema)

  /** Run `body` with `conf` set on the session, restoring every prior
    * value (or its absence) even on failure.
    *
    * SINGLE-QUERY ASSUMPTION: the mutation is session-global for the
    * body's duration. Verify/Bench run gates strictly sequentially, which
    * is what makes this safe — a concurrently executing query in the same
    * session would silently run at the gate's settings. If gates are ever
    * parallelized, give each its own `spark.newSession()`.
    */
  private def withConf[T](spark: SparkSession, conf: Seq[(String, String)])(body: => T): T = {
    val prior = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The session conf a gate's streaming drive runs under ([[Gate.scope]]).
    * The shuffle width is sized to the gate workload: the cascade's
    * micro-batches move a ~5-key histogram through ~6 fixed actions per
    * batch; at the session default of 32 every one of them pays 32
    * shuffle tasks AND 32 state-store instances per stateful operator —
    * pure per-task overhead at verify SF. Sizing shuffle partitions to the
    * data is exactly what a real deployment does (the operators are
    * partition-count agnostic: hash-agg/join results don't depend on it).
    * Two more knobs follow the same workload-sizing call (r22
    * A/B-measured per knob on the same box/load):
    *  - leafNodeDefaultParallelism: materialize()'s local-rows parents,
    *    per-batch literal frames (touched-bucket lists, empty-lake
    *    stand-ins) and limit/collect scaffolds otherwise each launch 32
    *    near-empty leaf tasks per action (core-count-derived); sized to
    *    the gate width for EVERY scoped gate (probe: stream_ingest_admit
    *    11.9->9.2 s, stream_q4_net_sink 8.8->7.1 s vs the
    *    minPartitionNum-scoped leg).
    *  - files.minPartitionNum ([[Narrow]] only): the retract/lake
    *    protocol gates re-read small bucket/log files every batch and in
    *    their post-stream audit folds; the session default of
    *    minPartitionNum = defaultParallelism splits those KB-scale reads
    *    into up to 32 near-empty scan tasks each (probe:
    *    stream_q4_retract_lake 11.9->9.6 s, stream_q4_retract_compact
    *    14.8->12.5 s). Gates whose per-batch work is a compute-heavy
    *    join/search against a REAL table (admit joins, index searches)
    *    keep the session default — the same probe showed narrowing their
    *    scans COSTS 10-25% (stream_ingest_admit 9.2->11.9 s).
    * At 100 TB both knobs are irrelevant inside a gate-sized batch
    * (bytes/maxPartitionBytes dominates the split count) — they only trim
    * the small-file floor a tiny batch otherwise pays per action.
    */
  private val Scoped = Seq("spark.sql.shuffle.partitions",
    "spark.sql.leafNodeDefaultParallelism").map(_ -> Width.toString)
  private val Narrow = Scoped :+ ("spark.sql.files.minPartitionNum" -> Width.toString)
  private val Unscoped = Seq.empty[(String, String)]

  /** The RocksDB state-store provider (transformWithState's backing
    * store), for the token-budget gates that run
    * [[graft.operators.Pipeline.TokenBudgetStream]]. Changelog
    * checkpointing commits the per-batch DELTA instead of a full RocksDB
    * snapshot per store per batch. On the local FS a few-MB store's
    * snapshot upload is nearly free, so this moves little here; against a
    * REMOTE checkpoint store (the deployment shape) the full-snapshot
    * upload is the dominant per-batch cost and the delta log is the
    * accepted fix, so the gates exercise the configuration the cluster
    * would run.
    */
  private val RocksDb = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** The Avro state encoding (the format under which Spark 4's
    * transformWithState supports state SCHEMA EVOLUTION across a
    * checkpoint restart — UnsafeRow-encoded state rejects any change).
    * Must cover BOTH sides of an evolution gate: the encoding is frozen
    * into the checkpoint at first start.
    */
  private val AvroState = Seq("spark.sql.streaming.stateStore.encodingFormat" -> "avro")

  /** Run one gate `body` on a fresh [[Gate]] and release everything the
    * body acquired through it — scratch dirs, scratch tables, memory-sink
    * views, cached frames — in ONE cleanup that runs whether the body
    * returns or throws, then unload every state-store provider. `name`
    * prefixes the gate's scratch dir (`graft-gate-<name>…`); `conf` is the
    * session conf of the gate's streaming drive ([[Scoped]], [[Narrow]],
    * or [[Unscoped]] plus any state-store settings). A body failure wins
    * over cleanup failures, which are attached to it as suppressed.
    */
  private[graft] def gate[T](spark: SparkSession, name: String,
      conf: Seq[(String, String)] = Scoped)(body: Gate => T): T = {
    val g = new Gate(spark, name, conf)
    val out = try body(g) catch {
      case e: Throwable =>
        try g.close() catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    g.close()
    out
  }

  /** One gate's resources and streaming drive (see [[gate]]). */
  private[graft] final class Gate(val spark: SparkSession, name: String,
      conf: Seq[(String, String)]) {
    private val closers = ArrayBuffer.empty[() => Unit]
    private var root: Path = _
    private var scoped = false

    /** Register `f` for the gate's cleanup (last registered runs first). */
    def onClose(f: => Unit): Unit = synchronized { closers += (() => f); () }

    /** A path under the gate's private scratch dir, which is created on
      * first use and deleted at cleanup; the path itself is not created.
      */
    def dir(sub: String): String = synchronized {
      if (root == null) {
        val r = gateTmp(s"graft-gate-$name")
        root = r
        onClose(rmrf(r))
      }
      root.resolve(sub).toString
    }

    /** A session-unique scratch table name, dropped at cleanup. */
    def table(prefix: String): String = {
      val t = s"${prefix}_${runId.incrementAndGet()}"
      onClose { spark.sql(s"DROP TABLE IF EXISTS $t"); () }
      t
    }

    /** A session-unique memory-sink view name, dropped at cleanup. */
    def view(): String = {
      val v = s"graft_gate_${runId.incrementAndGet()}"
      onClose { spark.catalog.dropTempView(v); () }
      v
    }

    /** `df` persisted until cleanup. */
    def cached(df: DataFrame): DataFrame = {
      val c = df.persist()
      onClose { c.unpersist(); () }
      c
    }

    /** Run `body` under the gate's session conf; re-entrant, so nested
      * drives share the outer scope. Every scope also roots checkpoints in
      * the gate's scratch dir: a query started without an explicit
      * `checkpointLocation` (the operator streams) would otherwise get a
      * Spark temporary dir under java.io.tmpdir, which survives a failed
      * query and which the cleanup cannot see.
      */
    def scope[T](body: => T): T =
      if (scoped) body
      else {
        scoped = true
        try withConf(spark, conf :+ ("spark.sql.streaming.checkpointLocation" -> dir("ck")))(body)
        finally scoped = false
      }

    /** Start a query in the gate scope, `drive` it, and stop it whatever
      * happens.
      */
    def run[T](start: => StreamingQuery)(drive: StreamingQuery => T): T =
      scope {
        val q = start
        try drive(q) finally q.stop()
      }

    /** Start a query and run it until every available chunk is processed. */
    def drain(start: => StreamingQuery): Unit = run(start)(_.processAllAvailable())

    /** Run `out` to a memory sink until all replayed chunks (and any
      * watermark-driven trailing batch) are processed; return the table
      * materialized.
      */
    def memory(out: DataFrame, mode: String): DataFrame = scope {
      val v = view()
      drain(out.writeStream.format("memory").queryName(v).outputMode(mode)
        .option("checkpointLocation", dir(v)).start())
      materialize(spark.table(v))
    }

    /** Start `out` into a foreachBatch sink, checkpointed at `ck`. */
    def foreachBatch(out: DataFrame, mode: String,
        ck: String = dir(s"ck-${runId.incrementAndGet()}"))(
        f: (DataFrame, Long) => Unit): StreamingQuery =
      // not on eachBatch: gates drive update-mode changelogs and batch-id callbacks
      out.writeStream.outputMode(mode).option("checkpointLocation", ck)
        .foreachBatch((b: Dataset[Row], id: Long) => f(b.toDF(), id)).start()

    /** Drain the query `start` builds around an emission callback and
      * return the union of its emissions as a `schema` frame.
      */
    def collect(schema: StructType)(start: (DataFrame => Unit) => StreamingQuery): DataFrame = {
      val out = new Emissions(spark)
      drain(start(out.emit))
      out.df(schema)
    }

    /** A private watched dir read one file per trigger. */
    def watch(schema: StructType): Watch =
      new Watch(spark, Paths.get(dir(s"watch-${runId.incrementAndGet()}")), schema)

    /** Start `start` over a fresh [[watch]] and feed `chunks` one file per
      * micro-batch: each chunk is fed and drained, then `window(i)` runs
      * while the query is idle (the maintenance window between batches —
      * the single-writer contract). Returns the windows' results.
      */
    def feedEach[T](chunks: Staged)(start: DataFrame => StreamingQuery)(
        window: Int => T): Seq[T] = {
      val w = watch(chunks.schema)
      run(start(w.stream)) { q =>
        chunks.files.zipWithIndex.map { case (f, i) =>
          w.feed(f)
          q.processAllAvailable()
          window(i)
        }
      }
    }

    /** The restart gates' stop-and-resume: feed the first `k` files,
      * run `instance(1)` (a drained and stopped query), feed the rest,
      * run `instance(2)` on the same checkpoint.
      */
    def restart(w: Watch, files: Seq[Path], k: Int)(instance: Int => Unit): Unit = scope {
      w.feed(files.take(k): _*)
      instance(1)
      w.feed(files.drop(k): _*)
      instance(2)
    }

    private[StreamGate] def close(): Unit = {
      var err: Throwable = null
      (closers.reverseIterator ++
        Iterator(() => org.apache.spark.sql.graftbridge.Bridge.unloadStateStores())).foreach { c =>
        try c() catch {
          case e: Throwable => if (err == null) err = e else err.addSuppressed(e)
        }
      }
      if (err != null) throw err
    }
  }

  /** The rows a streaming operator emits, one collected micro-batch at a
    * time; the first emission's schema is kept for callers that have no
    * batch twin to take it from.
    */
  private[graft] final class Emissions(spark: SparkSession) {
    private val buf = ArrayBuffer.empty[Row]
    private var first: StructType = _

    val emit: DataFrame => Unit = { v =>
      val rows = v.collect()
      buf.synchronized { if (first == null) first = v.schema; buf ++= rows }
      ()
    }

    def rows: List[Row] = buf.synchronized(buf.toList)

    def df(schema: StructType = buf.synchronized(first)): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
  }

  /** A streaming parquet source over `dir`, one file per micro-batch,
    * lowest mtime first.
    */
  private def fileStream(spark: SparkSession, schema: StructType, dir: Path): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir.toString)

  /** A gate-private WATCHED directory that a running FileStreamSource
    * lists, fed from staged chunk files. Every feed makes the file visible
    * atomically with a fresh, strictly increasing mtime. The naive
    * `Files.copy(src, dst); dst.setLastModified(t)` sequence has two races
    * when the stream is LIVE:
    *  - a trigger can list `dst` mid-copy and read a truncated parquet
    *    file;
    *  - far worse, a trigger can list `dst` BETWEEN the copy and the
    *    mtime set, logging it into the source's seen-map at the current
    *    wall-clock time. Every later chunk (mtime ≈ epoch+minutes) then
    *    falls behind `lastPurgeTimestamp` (= newest-seen − maxFileAge,
    *    i.e. NOW − 7 days) and FileStreamSource silently ignores it —
    *    whole chunks vanish with no error. This was the
    *    `stream_temporal_join_live` hash flake: a lost dimension chunk
    *    leaves stale open versions that still inner-join every fact
    *    (same row count, different seg values).
    * So a feed ([[atomicFeed]]) copies to a dot-prefixed temp name (hidden
    * from Spark's file listing), sets the mtime on the hidden file, then ATOMIC_MOVEs
    * to the final name (rename preserves mtime): no observer can ever see
    * a partial file or a wrong timestamp. COPY, not move: the staging is
    * the shared JVM-wide cache.
    *
    * The mtime is a base captured at construction plus a per-file counter
    * rather than the source's: chunk files written by one parquet job can
    * share a millisecond mtime, and FileStreamSource breaks timestamp ties
    * by listing order — RawLocalFileSystem listing is unsorted, so two
    * tied chunks could replay out of order and flake any order-sensitive
    * oracle (the token-budget FIFO hash). The counter spans feeds, so
    * files fed before and after a restart stay totally ordered.
    */
  private[graft] final class Watch(spark: SparkSession, dir: Path, schema: StructType) {
    Files.createDirectories(dir)
    private val base = System.currentTimeMillis()
    private var n = 0

    def stream: DataFrame = fileStream(spark, schema, dir)

    def feed(files: Path*): Unit = files.foreach { src =>
      n += 1
      atomicFeed(src, dir, base + n)
    }
  }

  private def atomicFeed(src: Path, dstDir: Path, mtimeMs: Long): Unit = {
    val tmp = dstDir.resolve(s".tmp-${src.getFileName}")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    if (!tmp.toFile.setLastModified(mtimeMs))
      throw new java.io.IOException(s"cannot set mtime on $tmp")
    Files.move(tmp, dstDir.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** One staged input: its chunk files in replay order and their schema. */
  private[graft] final case class Staged(files: Seq[Path], schema: StructType) {
    def stream(spark: SparkSession): DataFrame = fileStream(spark, schema, files.head.getParent)
  }

  /** SHARED chunk staging: gates replaying the SAME logical input at the
    * SAME chunking re-use one staged chunk dir for the JVM's lifetime
    * instead of each re-deriving, re-writing, and re-deleting identical
    * files (q1/q3×2/q8/ttl×2/static/retract/restart all replay the same 6
    * rides chunks; at bench repeat=3 each gate stages 4× — the staging
    * was a fixed cost of every gate run that the cache pays once per
    * (input, chunking)). `key` names the logical input and MUST include
    * every parameter the staged bytes depend on (the sf dir, any
    * sentinel/union variant); `chunks` is part of the cache key. A gate
    * either replays the staged dir directly ([[Staged.stream]]: mtimes
    * are burned in at staging) or feeds copies of its files into a
    * private [[Watch]] between maintenance passes.
    *
    * The staged dir is read-only after creation (gates never mutate it —
    * each run gets its own checkpoint and watched dirs), which is what
    * makes sharing safe. Roots are deleted once, at JVM exit, preserving
    * the no-accumulation contract across repeated bench runs in one JVM.
    * Gates run strictly sequentially (Verify/Bench contract), so the
    * getOrElseUpdate race (double staging) can't occur in practice.
    *
    * The key deliberately does NOT include a content fingerprint of the
    * source dir: every gate input is immutable for a JVM's lifetime
    * (read-only /root/testdata; the 20x corpus is regenerated only by a
    * separate Stress20x JVM). A caller replaying a dir it rewrites
    * IN-PROCESS would replay stale bytes — fingerprint the dir into
    * `key` (ModelTables' guard pattern) before doing that.
    */
  private val staging = scala.collection.concurrent.TrieMap.empty[(String, Int), Staged]
  private val stagingHooked = new AtomicBoolean(false)

  private def stage(spark: SparkSession, key: String, chunks: Int = Chunks)(
      mk: => (DataFrame, Column)): Staged =
    staging.getOrElseUpdate((key, chunks), {
      if (stagingHooked.compareAndSet(false, true))
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          staging.values.foreach(s => rmrf(s.files.head.getParent.getParent))))
      val (df, orderMs) = mk
      val root = gateTmp("graft-stream-gate")
      try {
        val files = stageChunkFiles(df, orderMs, chunks, root)
        // schema from the staged footers, read once per staging
        Staged(files, spark.read.parquet(files.head.getParent.toString).schema)
      } catch { case e: Throwable => rmrf(root); throw e }
    })

  /** The cached replay of one logical input (see [[stage]]). */
  private def replay(spark: SparkSession, key: String, chunks: Int = Chunks)(
      mk: => (DataFrame, Column)): DataFrame =
    stage(spark, key, chunks)(mk).stream(spark)

  /** Stage `df` into one parquet file per chunk (range of the monotone
    * `orderMs` expression) under `root/chunks`, returned in chunk order
    * with strictly increasing mtimes — the replay order of a stream over
    * that dir. For event-time inputs pass `unix_millis(rowtime)`; for
    * unordered corpora any stable key (e.g. doc_id) works.
    *
    * TWO load-bearing contracts live in the chunk-id expression
    * `(orderMs − t0) * chunks / span` (64-bit integer arithmetic):
    *  - VALUE-CHUNKING: the chunk id is a pure function of the order
    *    key, so rows sharing one `orderMs` value can NEVER split across
    *    chunks. Stateful gates rely on this — [[Scd2Stream]]'s
    *    same-microsecond collapse-to-last is only batch-equivalent
    *    because a same-timestamp event group always arrives within ONE
    *    micro-batch (Scd2ChunkingSpec pins it: a row-count splitter
    *    provably diverges). A replacement chunker must preserve it.
    *  - ORACLE PARITY: the late-data oracles replicate this exact
    *    integer division in SQL
    *    ([[StreamingQueries.chunkIdSql]] — DuckDB `//` floor division,
    *    identical on these non-negative operands). Changing the
    *    arithmetic here without changing chunkIdSql desynchronizes
    *    every disorder gate.
    */
  private def stageChunkFiles(df: DataFrame, orderMs: Column, chunks: Int,
      root: Path): Seq[Path] = {
    val staged = root.resolve("staged")
    val chunkDir = root.resolve("chunks")
    Files.createDirectories(chunkDir)
    val bounds = df.agg(min(orderMs).as("t0"), max(orderMs).as("t1")).head()
    val (t0, span) = (bounds.getLong(0), math.max(1L, bounds.getLong(1) - bounds.getLong(0) + 1))
    // single-task write, one file per chunk dir (harness-only funnel —
    // bounded by the verify SF, not an operator shape)
    df.withColumn("_chunk", ((orderMs - t0) * chunks / span).cast("int"))
      .repartition(1)
      .write.partitionBy("_chunk").mode("overwrite").parquet(staged.toString)
    val dirs = new java.io.File(staged.toString).listFiles()
      .filter(_.getName.startsWith("_chunk="))
      .sortBy(_.getName.stripPrefix("_chunk=").toInt)
    val files = dirs.zipWithIndex.map { case (d, i) =>
      val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = chunkDir.resolve(f"chunk-$i%04d.parquet")
      Files.move(part.toPath, dst)
      // mtime order is the SOLE replay-order mechanism — a filesystem that
      // refuses it would replay chunks arbitrarily and fail the oracle
      // with no hint of the root cause, so fail fast instead
      if (!dst.toFile.setLastModified((i + 1) * 60000L))
        throw new java.io.IOException(
          s"cannot set mtime on $dst — chunk replay order would be undefined")
      dst
    }.toSeq
    rmrf(staged) // chunk files were moved out; drop the write leftovers
    files
  }

  /** The rides input every event-time gate replays. */
  private def rides(spark: SparkSession, dir: String): (DataFrame, Column) =
    (Rides.fromEvents(spark, dir), unix_millis(col("rowtime")))

  private def ridesReplay(spark: SparkSession, dir: String, chunks: Int = Chunks): DataFrame =
    replay(spark, s"rides|$dir", chunks)(rides(spark, dir))

  /** The documents table in 3 doc-id chunks. */
  private def docs(spark: SparkSession, dir: String): Staged =
    stage(spark, s"docs|$dir", 3)((Tables.load(spark, dir, "documents"), col("doc_id")))

  /** The embeddings table in 3 vec-id chunks. */
  private def embeddings(spark: SparkSession, dir: String): Staged =
    stage(spark, s"emb|$dir", 3)((Tables.load(spark, dir, "embeddings"), col("vec_id")))

  /** The ingest gates' embedding split: `(all, build, ingest)` — models
    * train on the two-thirds `build` set, the remaining third is the
    * staged ingest replay.
    */
  private def ingestSplit(spark: SparkSession, dir: String): (DataFrame, DataFrame, Staged) = {
    import graft.operators.Similarity.IvfRbIngestMod
    val all = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    (all, all.filter(col("vec_id") % IvfRbIngestMod =!= 0),
      stage(spark, s"embrb|$dir", 3)(
        (all.filter(col("vec_id") % IvfRbIngestMod === 0), col("vec_id"))))
  }

  /** Far-future in-NYC sentinel ride events `(rideId, isStart)` at `ms`. */
  private def sentinelRides(spark: SparkSession, ms: Long, ids: (Long, Boolean)*): DataFrame = {
    import spark.implicits._
    ids.map { case (id, isStart) => (id, isStart, new Timestamp(ms), new Timestamp(ms),
        -73.99f, 40.75f, -73.99f, 40.75f, 1.toShort) }
      .toDF("rideId", "isStart", "startTime", "endTime",
        "startLon", "startLat", "endLon", "endLat", "passengerCnt")
      .withColumn("rowtime", col("startTime"))
  }

  /** Q1 tumbling-window agg through micro-batches (complete mode: state
    * accumulates across chunks, the final table is the full history —
    * batch-identical by construction, no finalization sentinel needed).
    * Oracle: the batch q1 oracle.
    */
  def q1Tumble(spark: SparkSession, dir: String): DataFrame = gate(spark, "q1") { g =>
    g.memory(StreamingQueries.q1Tumble(ridesReplay(spark, dir)), "complete")
      .orderBy("dept_time", "cell")
  }

  /** Q6 hopping-window agg through micro-batches (complete mode, like
    * [[q1Tumble]]): the streaming Expand → windowed-state path must
    * reproduce the batch hop exactly — every departure counted in BOTH
    * its overlapping windows across chunk boundaries. Oracle: the batch
    * q6 oracle.
    */
  def q6Sliding(spark: SparkSession, dir: String): DataFrame = gate(spark, "q6") { g =>
    g.memory(StreamingQueries.q6Sliding(ridesReplay(spark, dir)), "complete")
      .orderBy("dept_time", "cell")
  }

  /** Q4 cascaded aggregate (the reference's retraction flagship) through
    * the full distributed CascadeQ4 path: level-1 update-mode changelog →
    * foreachBatch lake merge → level-2 histogram upserts with
    * delete-on-emptied-bucket. Final histogram = the level-2 lake
    * snapshot. Oracle: the batch q4 oracle.
    */
  def q4Cascade(spark: SparkSession, dir: String): DataFrame = gate(spark, "q4") { g =>
    // 3 chunks and a narrow lake: each cascade micro-batch pays ~6 fixed
    // Spark actions (pre-image join, one-job lake merges, marker IO,
    // level-2 recompute), so the gate's cost is batches x per-action
    // overhead, not data volume — cross-batch state accumulation is already
    // proven at 3 batches, and the histogram lake holds ~5 keys. Shuffle
    // parallelism is sized to that workload (see Scoped).
    val sink = new ParquetUpsertSink(g.dir("level2"), Seq("dept_cnt"), 4)
    val stream = ridesReplay(spark, dir, chunks = 3)
    g.run(CascadeQ4.startToParquet(stream, sink, g.dir("ck"))) { q =>
      q.awaitTermination()
      materialize(sink.snapshot(spark).select(col("dept_cnt"), col("cnt_freq")))
        .orderBy("dept_cnt")
    }
  }

  /** Q7 session windows through micro-batches (append mode — sessions
    * merge across chunks and emit once the watermark passes their close;
    * a far-future in-NYC sentinel ride finalizes the tail and its own
    * session is filtered out). The query truncates rowtime to
    * milliseconds itself, as in batch. Oracle: the batch q7 oracle.
    */
  def q7Session(spark: SparkSession, dir: String): DataFrame = gate(spark, "q7") { g =>
    val rides = Rides.fromEvents(spark, dir)
    val maxMs = rides.agg(max(unix_millis(col("rowtime")))).head().getLong(0)
    val sentinel = sentinelRides(spark,
      maxMs + 2 * graft.operators.TaxiQueries.SessionGapMs + 200000L, (-1L, true))
    val stream = replay(spark, s"ridesq7|$dir")(
      (rides.unionByName(sentinel), unix_millis(col("rowtime"))))
    g.memory(StreamingQueries.q7Session(stream), "append")
      .filter(col("sess_start") <= maxMs) // drop the sentinel's own session
      .orderBy("cell", "sess_start")
  }

  /** Q3 OVER-window state through micro-batches: [[OverWindowState]] at
    * the 7-day RANGE frame (q3_over_recent's constants — the 10-min frame
    * is vacuous on this fixture, see TaxiQueries.q3OverWindow), with the
    * batch query's `> 1` filter applied to the emitted append stream.
    * With in-order replay the emit-once per-departure counts equal the
    * batch RANGE frame exactly. Oracle: the batch q3_over_recent oracle.
    */
  def q3Over(spark: SparkSession, dir: String): DataFrame = gate(spark, "q3") { g =>
    g.memory(OverWindowState.q3Streaming(ridesReplay(spark, dir),
          windowMs = graft.operators.TaxiQueries.RecentFrameMs).toDF(),
        "append")
      .filter(col("dept_cnt") > 1)
      .select("ride_id", "cell", "dept_time", "dept_cnt")
      .orderBy("ride_id")
  }

  /** Q8 stream-stream pair join through micro-batches: the watermarked
    * START/END inner join ([[StreamingQueries.pairStartEnd]] — the
    * reference's core data model, TaxiRide.java:24-38) over chunk replay.
    * Inner-join matches emit in the micro-batch both sides arrive, so no
    * finalization sentinel is needed; the ±2 h time-range condition is
    * the oracle's millisecond ride bound and also bounds the join-state
    * buffers. Replay is time-ordered, so an END never arrives after the
    * watermark evicted its START. Oracle: the batch q8 oracle.
    */
  def q8Pair(spark: SparkSession, dir: String): DataFrame = gate(spark, "q8") { g =>
    g.memory(StreamingQueries.pairStartEnd(ridesReplay(spark, dir)), "append")
      .orderBy("pair_id")
  }

  /** Q8 LEFT OUTER through micro-batches: unmatched STARTs (the fixture
    * drops every 7th pair's END) must emit their null-padded row once
    * the watermark passes their join-state eviction bound — the
    * outer-join semantics Spark only finalizes on watermark movement, so
    * the replay appends far-future sentinel events on BOTH sides
    * (negative pair ids, filtered from the output) to push the final
    * watermark past every live start. Oracle: the batch left-join q8
    * outer oracle — every ride either matched with its real gap or
    * reported incomplete, nothing dropped, nothing doubled.
    */
  def q8PairOuter(spark: SparkSession, dir: String): DataFrame = gate(spark, "q8o") { g =>
    val rides = Rides.fromEvents(spark, dir)
    val maxMs = rides.agg(max(unix_millis(col("rowtime")))).head().getLong(0)
    val sentinels = sentinelRides(spark, maxMs + graft.operators.TaxiQueries.MaxRideMs + 600000L,
      (-1000000L, true), (-999998L, false))
    val stream = replay(spark, s"ridesq8o|$dir")(
      (rides.unionByName(sentinels), unix_millis(col("rowtime"))))
    g.memory(StreamingQueries.pairStartEndOuter(stream), "append")
      .filter(col("pair_id") >= 0) // the sentinels' own (unmatched) rows
      .orderBy("pair_id")
  }

  /** Incremental sub-document dedup through micro-batches: verdicts of
    * doc-id-chunked incoming docs against the PERSISTED bucketed window
    * table — the production substringAgainst/substringStream membership
    * join under the hard gate. Oracle: the batch dedup_substring_incr
    * oracle (same verdicts, corpus joined in place).
    */
  def substringIncr(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "substring", Unscoped) { g =>
      import graft.operators.Dedup
      val table = g.table("graft_gate_wins")
      Dedup.persistWindowTable(spark, dir, table)
      val stream = replay(spark, s"incoming|$dir", chunks = 3)(
        (Dedup.incomingDocs(spark, dir), col("doc_id")))
      val schema = Dedup.substringIncremental(spark, dir).schema // lazy: no job
      g.collect(schema)(Dedup.substringStream(stream, table)(_)).orderBy("doc_id")
    }

  /** LM perplexity scoring as a stream: documents replayed in doc-id
    * chunks are scored per micro-batch against the PERSISTED bigram LM
    * ([[graft.operators.TextAnalysis.perplexityStream]]) — the
    * frozen-model inference pattern: score the incoming crawl, never
    * refit in-stream. Each doc is wholly contained in one chunk and
    * scoring is per-doc, so the union of batch outputs must equal the
    * batch score table. Oracle: the batch txt_perplexity oracle.
    */
  def pplScore(spark: SparkSession, dir: String): DataFrame = gate(spark, "ppl") { g =>
    import graft.operators.TextAnalysis
    TextAnalysis.persistLmModel(spark, dir)
    val stream = docs(spark, dir).stream(spark)
    val schema = TextAnalysis.perplexityAgainst(spark, dir).schema
    g.collect(schema)(TextAnalysis.perplexityStream(stream)(_)).orderBy("doc_id")
  }

  /** PERCOLATION under the hard gate: the standing query set is
    * registered up front, the BM25 index (df + corpus constants) is
    * frozen, and the document table is replayed in chunks — every
    * micro-batch emits scored (query, doc) matches against the frozen
    * statistics. Stateless per doc, so the emission union must equal the
    * batch score table (`bm25PercolateOracle`) for any chunking.
    */
  def bm25Percolate(spark: SparkSession, dir: String): DataFrame = gate(spark, "perc") { g =>
    import graft.operators.TextAnalysis
    TextAnalysis.persistBm25Index(spark, dir)
    val standing = TextAnalysis.bm25Standing(spark, dir)
    g.collect(Bm25Scored)(TextAnalysis.bm25PercolateStream(docs(spark, dir).stream(spark), standing)(_))
      .orderBy("query_id", "doc_id")
  }

  /** PERCOLATION WITH A LIVE STANDING-QUERY LAKE under the hard gate —
    * the updatable twin of [[bm25Percolate]] (whose standing set is
    * frozen at stream start: adding or retiring an alert is a restart):
    * set A is published to the lake, documents replay in chunks, and
    * BETWEEN micro-batches the lake is republished as set B (A\B retires
    * alerts, B\A registers new ones — both update directions). Each
    * micro-batch re-resolves the lake at its boundary
    * ([[graft.operators.TextAnalysis.bm25PercolateLakeStream]]), so the
    * emission union must equal the PIECEWISE batch score table: chunk-0
    * docs against A, chunks 1-2 against B, df/stats frozen throughout.
    */
  def bm25PercolateLake(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "perclake") { g =>
      import graft.operators.TextAnalysis
      TextAnalysis.persistBm25Index(spark, dir)
      val chunks = docs(spark, dir)
      val lake = g.dir("standing")
      TextAnalysis.StandingLake.publish(
        TextAnalysis.bm25StandingQueriesDf(spark, dir, TextAnalysis.percolateSeedA), lake)
      val out = new Emissions(spark)
      g.feedEach(chunks)(TextAnalysis.bm25PercolateLakeStream(_, lake)(out.emit)) { i =>
        // the standing set changes mid-stream: set B goes live as the
        // next immutable generation (publish = one atomic rename; a
        // racing batch would keep reading its resolved generation)
        if (i == 0) TextAnalysis.StandingLake.publish(
          TextAnalysis.bm25StandingQueriesDf(spark, dir, TextAnalysis.percolateSeedB), lake)
      }
      out.df(Bm25Scored).orderBy("query_id", "doc_id")
    }

  /** The (query_id, doc_id, score_micro) rows both percolation gates emit. */
  private val Bm25Scored =
    StructType(Seq("query_id", "doc_id", "score_micro").map(StructField(_, LongType)))

  /** CONTINUOUS INDEX-QUALITY MONITORING under the hard gate: the query
    * vectors (every 20th embedding) arrive as a replayed stream; each
    * micro-batch is evaluated — IVF vs exact, recall@10 and reciprocal
    * rank — against the FROZEN corpus. Rankings and metrics are
    * per-query independent, so the emission union must equal the batch
    * evaluation (oracle: the sim_eval_recall oracle).
    */
  def evalRecallStream(spark: SparkSession, dir: String): DataFrame = gate(spark, "evalq") { g =>
    import graft.operators.Similarity
    val stream = replay(spark, s"evalq|$dir", chunks = 3)(
      (Tables.load(spark, dir, "embeddings").filter(col("vec_id") % 20 === 0),
        col("vec_id")))
    val schema = Similarity.evalRecall(spark, dir).schema
    g.collect(schema)(Similarity.evalStream(stream, dir)(_)).orderBy("q_id")
  }

  /** TEMPORAL TABLE JOIN under the hard gate: the SCD2 version table is
    * built once from the full events history and FROZEN (cached — the
    * deployed shape is a persisted dimension snapshot); purchase facts
    * are replayed in event-time-ordered chunks and every micro-batch is
    * as-of joined against it. Stateless per fact + frozen dimension, so
    * the emission union must equal the batch temporal join (oracle: the
    * rel_temporal_join ASOF JOIN oracle) for any chunking.
    */
  def temporalJoin(spark: SparkSession, dir: String): DataFrame = gate(spark, "tjoin") { g =>
    import graft.operators.Relational
    val events = Tables.load(spark, dir, "events")
    val dim = g.cached(Relational.scd2Versions(events))
    dim.count() // freeze the dimension before the stream starts
    val stream = replay(spark, s"purchases|$dir", chunks = 3)(
      (events.filter(col("event_type") === "purchase"), unix_micros(col("ts"))))
    val schema = Relational.temporalJoinOn(Relational.purchaseFacts(events), dim).schema
    g.collect(schema)(StreamingQueries.temporalJoinStream(stream, dim)(_)).orderBy("event_id")
  }

  /** CHECKPOINT RECOVERY under the hard gate: the tumbling-window query
    * is STOPPED mid-replay (after half the chunks) and a NEW query
    * instance restarts from the same checkpoint while the rest of the
    * history arrives — the deployed failure/upgrade path (offsets + state
    * restore; Spark's exactly-once contract). The recovered query's final
    * table must hash-match the batch q1 oracle: nothing double-counted
    * across the restart boundary, no window lost with the first JVM's
    * state. The watched dir is private (staged files COPIED in two
    * steps) and fed in strictly increasing mtime order, so replay order
    * is preserved.
    */
  def q1Restart(spark: SparkSession, dir: String): DataFrame = gate(spark, "restart") { g =>
    val chunks = stage(spark, s"rides|$dir")(rides(spark, dir))
    val w = g.watch(chunks.schema)
    val (name, ck) = (g.view(), g.dir("ck"))
    g.scope {
      // instance 1 sees half the history, then STOPS; instance 2 recovers
      // offsets + window state and completes the replay
      g.restart(w, chunks.files, Chunks / 2) { _ =>
        g.drain(StreamingQueries.q1Tumble(w.stream).writeStream
          .format("memory").queryName(name).outputMode("complete")
          .option("checkpointLocation", ck).start())
      }
      materialize(spark.table(name)).orderBy("dept_time", "cell")
    }
  }

  /** LIVE TEMPORAL JOIN under the hard gate — the full stack: TWO
    * concurrent streaming queries over a SHARED time-chunk grid.
    * [[Scd2Stream]] maintains the version lake (upserts keyed
    * (user_id, version_no) into a ParquetUpsertSink); the fact query
    * as-of joins each purchase micro-batch against the lake's CURRENT
    * snapshot. Per grid step the dimension chunk applies FIRST, so the
    * lake has seen every change up to the fact batch's max event time —
    * which makes the per-batch join equal the batch as-of join row for
    * row (a still-open version joins identically because the output
    * doesn't depend on valid_to beyond interval membership). Oracle: the
    * same rel_temporal_join ASOF JOIN oracle — nothing about the
    * continuous execution may show in the result.
    */
  def temporalJoinLive(spark: SparkSession, dir: String): DataFrame = gate(spark, "tjlive") { g =>
    import graft.operators.Relational
    val events = Tables.load(spark, dir, "events")
    val chunks = stage(spark, s"eventsall|$dir")((events, unix_micros(col("ts"))))
    val lake = new ParquetUpsertSink(g.dir("dimlake"), Seq("user_id", "version_no"), 4)
    val joinSchema = Relational.temporalJoinOn(
      Relational.purchaseFacts(events), Relational.scd2Versions(events)).schema
    // CURRENCY-FENCE expectations, TWO jobs total for all grid steps
    // (the r17 form re-aggregated a cached version build once per chunk —
    // ~2.5 s/run, the gate's whole 2x-vs-r16 regression):
    //  1. per-chunk event-time cutoffs in ONE pass over the staged files
    //     (input_file_name groups rows back to their chunk);
    //  2. ONE aggregation charging each version row to the first chunk
    //     whose running-max cutoff covers its valid_from (slot = count of
    //     cutoffs strictly below it, over a <=Chunks-element literal).
    // Prefix-folding the <=Chunks+1 slot rows on the driver then yields
    // every grid step's (expected count, max valid_from) as running
    // scalars. Chunks are value-chunked on the order key
    // (stageChunkFiles), so a same-microsecond change group never
    // straddles a boundary and the prefix-i version build equals the FULL
    // build filtered to the prefix's max event ts — count and valid_from
    // frontier exactly (valid_to differs, open vs later-closed, but the
    // fence never reads it).
    val cutoffByFile = spark.read.schema(chunks.schema)
      .parquet(chunks.files.map(_.toString): _*)
      .groupBy(input_file_name().as("f"))
      .agg(max(unix_micros(col("ts"))).as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val cutoffs = chunks.files.map { f =>
      val name = f.getFileName.toString
      cutoffByFile.collectFirst { case (uri, hi) if uri.endsWith(name) => hi }
        .getOrElse(throw new IllegalStateException(
          s"temporalJoinLive: no cutoff for staged chunk $name"))
    }
    // running-max cutoffs: the fence compares against the PREFIX frontier
    val cuts = cutoffs.scanLeft(Long.MinValue)(math.max).tail
    val cutsLit = s"array(${cuts.mkString("L, ")}L)"
    val slotRows = Relational.scd2Versions(events)
      .select(col("valid_from_us"))
      .withColumn("slot", expr(
        s"aggregate($cutsLit, 0, (acc, c) -> acc + IF(c < valid_from_us, 1, 0))"))
      .groupBy("slot")
      .agg(count(lit(1)).as("n"), max("valid_from_us").as("hi"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    // expected (count, frontier) after each chunk prefix — driver fold
    val expectAt: Seq[(Long, Long)] = cuts.indices.map { i =>
      val covered = (0 to i).flatMap(slotRows.get)
      (covered.map(_._1).sum,
        if (covered.isEmpty) Long.MinValue else covered.map(_._2).max)
    }
    val (dimW, factW) = (g.watch(chunks.schema), g.watch(chunks.schema))
    val out = new Emissions(spark)
    g.run(g.foreachBatch(Scd2Stream.scd2Stream(dimW.stream).toDF(), "update") { (b, _) =>
      if (!b.isEmpty) lake.upsert(b); ()
    }) { dimQ =>
      g.run(StreamingQueries.temporalJoinLiveStream(factW.stream, lake)(out.emit)) { factQ =>
        chunks.files.zipWithIndex.foreach { case (f, i) =>
          dimW.feed(f)
          dimQ.processAllAvailable()  // dimension first
          // CURRENCY FENCE: before any fact row of this grid step may
          // join, the lake must hold exactly the versions the batch
          // build derives from the chunk prefix — count and frontier
          // both. A lost dim chunk (the replay race this gate once had)
          // or a stale lake read fails HERE, loudly, instead of
          // surfacing as a nondeterministic hash mismatch downstream.
          val (expectN, expectHi) = expectAt(i)
          if (expectN > 0L) {
            val got = lake.snapshot(spark)
              .agg(count(lit(1)).as("n"), max(col("valid_from_us")).as("hi")).head()
            if (got.getLong(0) != expectN || got.getLong(1) != expectHi)
              throw new IllegalStateException(
                s"temporalJoinLive: version lake not current after dim chunk $i — " +
                  s"expected (count=$expectN, maxValidFrom=$expectHi), " +
                  s"lake has (count=${got.getLong(0)}, maxValidFrom=${got.getLong(1)})")
          }
          factW.feed(f)
          factQ.processAllAvailable()
        }
      }
    }
    out.df(joinSchema).orderBy("event_id")
  }

  /** INCREMENTAL SCD2 BUILD under the hard gate: the dimension-side
    * changelog (non-purchase events) replays in event-time chunks;
    * [[Scd2Stream]] maintains per-key open versions in state and emits an
    * upsert changelog keyed (user_id, version_no). The gate folds the
    * upserts (each key at most once per batch — order-free) and the final
    * fold must hash-match the BATCH version table (the rel_scd2_build
    * oracle): versions opened in one micro-batch and closed in a later
    * one land as one row with the closing batch's valid_to.
    */
  def scd2Build(spark: SparkSession, dir: String): DataFrame = gate(spark, "scd2") { g =>
    import graft.operators.Relational
    val stream = replay(spark, s"evnonpurch|$dir")(
      (Tables.load(spark, dir, "events").filter(col("event_type") =!= "purchase"),
        unix_micros(col("ts"))))
    val schema = Relational.scd2Build(spark, dir).schema
    val acc = scala.collection.concurrent.TrieMap.empty[(Long, Int), Row]
    g.drain(g.foreachBatch(Scd2Stream.scd2Stream(stream).toDF(), "update") { (b, _) =>
      b.collect().foreach(r => acc((r.getLong(0), r.getInt(4))) = r)
    })
    spark.createDataFrame(acc.values.toList.asJava, schema)
      .orderBy("user_id", "version_no")
  }

  /** CONTINUOUS CORPUS-DRIFT MONITORING under the hard gate: the
    * reference histogram + chunking bounds are computed from the full
    * corpus and FROZEN; the document table replays in chunks and every
    * micro-batch's length distribution is compared against the reference.
    * One arrival chunk per batch (the replay contract) makes each chunk's
    * counts complete within its batch, so the emission union must equal
    * the batch drift report (oracle: the pipe_quality_drift oracle).
    */
  def qualityDrift(spark: SparkSession, dir: String): DataFrame = gate(spark, "drift") { g =>
    import graft.operators.Pipeline
    val d = Tables.load(spark, dir, "documents")
    val b = d.agg(min("doc_id"), max("doc_id")).head()
    val (t0, span) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
    val reference = materialize(Pipeline.referenceHistogram(d))
    val stream = docs(spark, dir).stream(spark)
    val schema = Pipeline.qualityDrift(spark, dir).schema
    g.collect(schema)(Pipeline.qualityDriftStream(stream, reference, t0, span)(_))
      .orderBy("chunk", "bin")
  }

  /** CONTINUOUS ANN INDEX BUILD under the hard gate — the vector twin of
    * [[bm25Ingest]]: the embedding table is replayed in chunks and every
    * micro-batch is ADMITTED to an initially-empty IVF index as a
    * bucket-aligned append ([[graft.operators.Similarity.ivfAdmitVectors]]
    * — norms batch-local, the existing index never read or rewritten).
    * After close, the standard query set against the grown index must
    * answer EXACTLY like the batch-built index (oracle: the sim_ivf_topk
    * oracle) — the index carries no cross-vector statistics, so any
    * chunking that keeps vectors whole grows the identical index.
    */
  def ivfIngest(spark: SparkSession, dir: String): DataFrame = gate(spark, "ivfing") { g =>
    import graft.operators.Similarity
    val table = g.table("ivf_ing_index")
    val stream = embeddings(spark, dir).stream(spark)
    g.drain(Similarity.ivfIngestStream(stream, table)())
    materialize(Similarity.ivfTopkAgainst(spark, dir, table)).orderBy("q_id", "rank")
  }

  /** THE FULL INDEX LIFECYCLE under the hard gate —
    * train → serve-shape build → continuous skewed ingest → forget →
    * REBALANCE → serve: the coarse quantizer is trained on two-thirds of
    * the corpus and frozen; the remaining third arrives as a replayed
    * stream admitted under the STALE model
    * ([[graft.operators.Similarity.ivfKmeansAdmitStream]] — the drift a
    * long-lived ANN index accumulates); the forget set is deleted; then
    * [[graft.operators.Similarity.rebalanceIvfIndex]] re-trains on
    * current content and rewrites the lists. The served result must be
    * BIT-IDENTICAL to an index trained fresh on (corpus minus forget
    * set) — the sim_ivf_rebalance oracle — for ANY chunking of the
    * ingest stream: admission under a frozen model is per-row
    * deterministic, deletion anti-joins compose, and the re-train reads
    * only the final content.
    */
  def ivfRebalance(spark: SparkSession, dir: String): DataFrame = gate(spark, "ivfrb") { g =>
    import graft.operators.{Dedup, Similarity}
    val (table, model) = (g.table("gate_rb_index"), g.table("gate_rb_model"))
    val (_, build, ingest) = ingestSplit(spark, dir)
    val stream = ingest.stream(spark)
    Similarity.buildKmeansIvf(spark, build, table, model)
    g.drain(Similarity.ivfKmeansAdmitStream(stream, table, model))
    // maintenance between stream close and serve: delete, then re-train
    Dedup.rewriteBucketedTable(spark, table, "cluster_id")(
      _.join(broadcast(Similarity.forgetVecIds(spark, dir)), Seq("vec_id"), "left_anti"))
    Similarity.rebalanceIvfIndex(spark, table, model)
    materialize(Similarity.ivfKmeansServe(spark, table, model)).orderBy("q_id", "rank")
  }

  /** CONTINUOUS PQ ADMISSION under the hard gate — FAISS
    * `add()`-after-`train()` live, on the COMPRESSED index: the coarse
    * quantizer and all slice codebooks are trained on two-thirds of the
    * corpus and FROZEN; the remaining third arrives as a replayed stream,
    * encoded and appended under those stale codebooks
    * ([[graft.operators.Similarity.pqAdmitStream]] — each batch pays two
    * bounded model reads and a map-only encode). The served result must
    * equal an index whose models were fit on the build subset but whose
    * membership is the FULL corpus (the pqIngestOracle) for ANY chunking
    * of the stream: encoding under frozen models is per-row
    * deterministic, so every chunking grows the identical code index.
    */
  def pqIngest(spark: SparkSession, dir: String): DataFrame = gate(spark, "pqing") { g =>
    import graft.operators.Similarity
    val Seq(table, coarseT, booksT) =
      Seq("gate_pq_index", "gate_pq_coarse", "gate_pq_books").map(g.table)
    val (_, build, ingest) = ingestSplit(spark, dir)
    val stream = ingest.stream(spark)
    Similarity.buildPqIndex(spark, build, table, coarseT, booksT)
    g.drain(Similarity.pqAdmitStream(stream, table, coarseT, booksT))
    materialize(Similarity.pqServe(spark, dir, table, coarseT, booksT))
      .orderBy("q_id", "rank")
  }

  /** CHECKPOINT-RESTARTED INDEX ADMISSION under the hard gate — the
    * restart contract ([[q1Restart]]) proven for the WRITE-side of an
    * index, not just window state: the PQ admission stream ingests the
    * first chunks under one query instance, STOPS, and a new instance
    * resumes from the same checkpoint to finish the history. Source
    * offsets restore exactly-once, so no admitted batch is re-encoded or
    * doubled across the restart boundary; a post-stream
    * [[graft.operators.Similarity.compactPqIndex]] pass then runs as the
    * standing at-least-once repair (a distinct rewrite — a NO-OP here
    * when the checkpoint protocol held, and the repair if a crash-replay
    * ever double-appends; PqSpec proves the repair on a forced
    * duplicate). The served result must equal the unrestarted ingest
    * (the pqIngestOracle): nothing about the restart may show.
    */
  def pqRestart(spark: SparkSession, dir: String): DataFrame = gate(spark, "pqrestart") { g =>
    import graft.operators.Similarity
    val Seq(table, coarseT, booksT) =
      Seq("gate_pqr_index", "gate_pqr_coarse", "gate_pqr_books").map(g.table)
    val (_, build, ingest) = ingestSplit(spark, dir)
    val (w, ck) = (g.watch(ingest.schema), g.dir("ck"))
    Similarity.buildPqIndex(spark, build, table, coarseT, booksT)
    // instance 1 admits two chunks, then STOPS; instance 2 recovers its
    // offsets and admits the rest once
    g.restart(w, ingest.files, 2) { _ =>
      g.drain(Similarity.pqAdmitStream(w.stream, table, coarseT, booksT, Some(ck)))
    }
    Similarity.compactPqIndex(spark, table)
    materialize(Similarity.pqServe(spark, dir, table, coarseT, booksT))
      .orderBy("q_id", "rank")
  }

  /** The tenant a policy gate deletes: the [[graft.operators.Similarity
    * .IvfPolicyDoomedLists]] smallest lists under the COMMISSIONING
    * quantizer `cents` (smallest count first, ties by list id).
    */
  private def doomedLists(all: DataFrame, cents: Seq[(Int, Seq[Long])]): Seq[Int] = {
    import graft.operators.{Clustering, Similarity}
    Clustering.withAssignment(all.selectExpr("vec_id", Clustering.quantizeSql), cents)
      .groupBy(col("best.cid").as("cid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy { case (cid, n) => (n, cid) }
      .take(Similarity.IvfPolicyDoomedLists).map(_._1).toSeq
  }

  /** THE REBALANCE POLICY DECIDING UNDER LIVE INGEST — the maintenance
    * loop a standing ANN index actually runs, with the trigger making
    * real decisions instead of the forced re-train
    * ([[ivfRebalance]] calls rebalanceIvfIndex unconditionally):
    *   - train + build on two-thirds; the remaining third arrives as a
    *     replayed stream admitted under the live model;
    *   - after EVERY chunk, a maintenance window runs
    *     [[graft.operators.Similarity.rebalanceIfSkewed]] at the
    *     calibrated threshold ([[graft.operators.Similarity
    *     .IvfPolicySkewMax]]): uniform arrivals keep skew near 1.1-1.4,
    *     so these windows must SKIP — steady state pays only the K-row
    *     histogram;
    *   - then one tenant leaves: every vector the COMMISSIONING model
    *     assigns to its [[graft.operators.Similarity
    *     .IvfPolicyDoomedLists]] smallest lists is deleted in one atomic
    *     map-only-predicate rewrite (no id list is ever collected or
    *     broadcast — the model travels as a K-struct literal, the
    *     scale-correct shape for a data-proportional deletion);
    *   - the post-forget window measures the hollowed index (skew
    *     ~2.1-2.4) and must FIRE the re-train; a skip here is a loud
    *     IllegalStateException, not a downstream hash mismatch.
    * The served result must equal an index trained FRESH on the
    * survivors (ivfPolicyOracle) for ANY schedule of mid-stream
    * decisions: a fired re-train is bit-identical to a fresh fit on
    * current content, a skip changes nothing, and membership is
    * schedule-independent (admission never drops rows; the forget
    * predicate depends only on the frozen commissioning model).
    * IvfRebalanceSpec asserts the decision log carries both outcomes.
    */
  def ivfPolicy(spark: SparkSession, dir: String): DataFrame =
    ivfPolicyWithLog(spark, dir)._1

  private[graft] def ivfPolicyWithLog(spark: SparkSession,
      dir: String): (DataFrame, Seq[(Double, Boolean)]) = gate(spark, "ivfpolicy") { g =>
    import graft.operators.{Clustering, Dedup, Similarity}
    val (table, model) = (g.table("gate_pol_index"), g.table("gate_pol_model"))
    val (all, build, ingest) = ingestSplit(spark, dir)
    Similarity.buildKmeansIvf(spark, build, table, model)
    // the commissioning model, held for the forget predicate: the
    // tenant is defined by the model that admitted it, not by whatever
    // model a mid-stream re-train may have installed since
    val initCents = Clustering.loadCentroids(spark, model)
    // MAINTENANCE WINDOW: the policy decides per chunk
    val windows = g.feedEach(ingest)(Similarity.ivfKmeansAdmitStream(_, table, model)) { _ =>
      Similarity.rebalanceIfSkewed(spark, table, model, Similarity.IvfPolicySkewMax)
    }
    // the hollow-out: delete the doomed tenant by re-deriving each
    // row's commissioning assignment (map-only against the K-struct
    // literal) inside the atomic rewrite
    val doomed = doomedLists(all, initCents)
    Dedup.rewriteBucketedTable(spark, table, "cluster_id")(df =>
      Clustering.withAssignment(
          df.selectExpr("cluster_id", "vec_id", "embedding", "nrm",
            Clustering.quantizeSql), initCents)
        .filter(!col("best.cid").isin(doomed: _*)))
    val (skew, fired) = Similarity.rebalanceIfSkewed(spark, table, model,
      Similarity.IvfPolicySkewMax)
    if (!fired)
      throw new IllegalStateException(
        s"ivfPolicy: post-forget window measured skew $skew <= " +
          s"${Similarity.IvfPolicySkewMax} and skipped the re-train — " +
          "the hollowed index would serve under a stale model")
    (materialize(Similarity.ivfKmeansServe(spark, table, model))
      .orderBy("q_id", "rank"), windows :+ ((skew, fired)))
  }

  /** THE PQ RE-TRAIN POLICY DECIDING UNDER LIVE INGEST — [[ivfPolicy]]'s
    * twin on the COMPRESSED index: codebooks train on two-thirds and
    * freeze; the remaining third streams in encoded under the stale
    * models ([[graft.operators.Similarity.pqAdmitStream]]); after every
    * chunk a maintenance window runs
    * [[graft.operators.Similarity.retrainPqIfSkewed]] — the coarse-list
    * histogram is the observable drift proxy, and the same calibrated
    * threshold applies because the PQ coarse quantizer is the same
    * learned-kmeans fit (uniform windows must SKIP); then the doomed
    * tenant leaves (every vector the COMMISSIONING coarse model assigns
    * to its 4 smallest lists — the code index stores no embeddings, so
    * the deletion predicate joins survivors' raw vectors back from the
    * base table inside the atomic rewrite, the same id-join a PQ
    * re-train inherently pays; stored codes of survivors are NOT
    * re-encoded by a deletion) and the hollowed window must FIRE,
    * re-fitting BOTH quantizer levels. The served result must equal a
    * fresh PQ build on the survivors (pqPolicyOracle) for any schedule
    * of mid-stream decisions.
    */
  def pqPolicy(spark: SparkSession, dir: String): DataFrame =
    pqPolicyWithLog(spark, dir)._1

  private[graft] def pqPolicyWithLog(spark: SparkSession,
      dir: String): (DataFrame, Seq[(Double, Boolean)]) = gate(spark, "pqpolicy") { g =>
    import graft.operators.{Clustering, Dedup, Similarity}
    val Seq(table, coarseT, booksT) =
      Seq("gate_pqp_index", "gate_pqp_coarse", "gate_pqp_books").map(g.table)
    val (all, build, ingest) = ingestSplit(spark, dir)
    Similarity.buildPqIndex(spark, build, table, coarseT, booksT)
    val initCoarse = Clustering.loadCentroids(spark, coarseT)
    val windows = g.feedEach(ingest)(Similarity.pqAdmitStream(_, table, coarseT, booksT)) { _ =>
      Similarity.retrainPqIfSkewed(spark, dir, table, coarseT, booksT)
    }
    // the hollow-out: commissioning assignment re-derived from raw
    // vectors (codes carry no embedding) inside the atomic rewrite;
    // survivors keep their stored codes — deletion never re-encodes
    val doomed = doomedLists(all, initCoarse)
    Dedup.rewriteBucketedTable(spark, table, "cluster_id")(df =>
      Clustering.withAssignment(
          df.join(all, Seq("vec_id"))
            .selectExpr("cluster_id", "vec_id", "code", Clustering.quantizeSql),
          initCoarse)
        .filter(!col("best.cid").isin(doomed: _*)))
    val (skew, fired) = Similarity.retrainPqIfSkewed(spark, dir, table,
      coarseT, booksT)
    if (!fired)
      throw new IllegalStateException(
        s"pqPolicy: post-forget window measured skew $skew <= " +
          s"${Similarity.IvfPolicySkewMax} and skipped the re-train — " +
          "the hollowed index would serve under stale codebooks")
    (materialize(Similarity.pqServe(spark, dir, table, coarseT, booksT))
      .orderBy("q_id", "rank"), windows :+ ((skew, fired)))
  }

  /** CONTINUOUS HYBRID SERVING under the hard gate: retrieval queries
    * (the shared doc/vec id space, every
    * [[graft.operators.TextAnalysis.Bm25QueryStride]]-th id) arrive as a
    * replayed stream; each micro-batch is answered entirely from the
    * FROZEN persisted indexes — BM25 postings for the lexical leg, the
    * bucketed IVF index for the semantic leg — and fused by RRF
    * ([[graft.operators.Similarity.hybridServeBatch]]). Per-query
    * stateless + frozen models, so the emission union must equal the
    * batch index-served fusion (oracle: hybridRrfIvfOracle). This is the
    * serving tier of a deployed retrieval stack: queries stream, the
    * indexes change only through the separate ingest/compaction path.
    */
  def hybridServe(spark: SparkSession, dir: String): DataFrame = gate(spark, "hybrid") { g =>
    import graft.operators.{Similarity, TextAnalysis}
    TextAnalysis.persistBm25Index(spark, dir)
    Similarity.persistIvfIndexIfStale(spark, dir)
    val stream = hybridQueries(spark, dir)
    val schema = Similarity.hybridRrfIvf(spark, dir).schema
    g.collect(schema)(Similarity.hybridServeStream(stream, dir)(_)).orderBy("query_id", "rk")
  }

  /** The hybrid-serving query stream: every Bm25QueryStride-th embedding. */
  private def hybridQueries(spark: SparkSession, dir: String): DataFrame =
    replay(spark, s"hybridq|$dir", chunks = 3)(
      (Tables.load(spark, dir, "embeddings")
         .filter(col("vec_id") % graft.operators.TextAnalysis.Bm25QueryStride === 0),
        col("vec_id")))

  /** [[hybridServe]] on the COMPRESSED index: each arriving query batch
    * is answered from the frozen BM25 postings + the PQ code index
    * ([[graft.operators.Similarity.hybridServePqBatchWith]] — ADC + bounded
    * exact re-rank, both query restrictions broadcast semi-joins).
    * Per-query stateless + frozen models, so the emission union must
    * equal the batch PQ-served fusion (oracle: hybridRrfPqOracle) — the
    * serving tier a deployment runs once the corpus outgrows the flat
    * index's RAM tier.
    */
  def hybridServePq(spark: SparkSession, dir: String): DataFrame = gate(spark, "hybridpq") { g =>
    import graft.operators.{Similarity, TextAnalysis}
    TextAnalysis.persistBm25Index(spark, dir)
    Similarity.persistPqHybridIfStale(spark, dir)
    val stream = hybridQueries(spark, dir)
    val schema = Similarity.hybridRrfPq(spark, dir).schema
    g.collect(schema)(Similarity.hybridServePqStream(stream, dir)(_)).orderBy("query_id", "rk")
  }

  /** GENERATION-AWARE SERVING under the hard gate — the serve stream
    * spans a published RE-TRAIN without restarting:
    * [[graft.operators.Similarity.hybridServePqStreamRefreshing]]
    * re-resolves the model-generation pointer at every micro-batch
    * boundary (marker listing + K-row model loads), so when the
    * maintenance path publishes generation 1 (the re-trained models +
    * re-encoded index — its equality to a fresh fit is pinned by
    * `sim_pq_retrain`) between micro-batches, the next batch serves
    * under it. Chunk 0 is served under the drift generation (fit on
    * two-thirds, last third admitted stale), chunks 1-2 under the
    * re-train; the emission union must equal the PIECEWISE batch
    * oracles. The pre-flight check that the two generations' coarse
    * models actually differ keeps the flip observable (a vacuous flip
    * would gate nothing).
    */
  def hybridServeRefresh(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "serverefresh") { g =>
      import graft.operators.{Clustering, Similarity, TextAnalysis}
      TextAnalysis.persistBm25Index(spark, dir)
      Similarity.persistPqServeGens(spark, dir)
      require(Clustering.loadCentroids(spark, Similarity.PqSr0Coarse) !=
        Clustering.loadCentroids(spark, Similarity.PqSr1Coarse),
        "the re-train must change the coarse model or the flip is unobservable")
      val chunks = stage(spark, s"hybridqid|$dir", 3)(
        (Tables.load(spark, dir, "embeddings").select("vec_id")
           .filter(col("vec_id") % TextAnalysis.Bm25QueryStride === 0),
          col("vec_id")))
      Similarity.pqServeGenReset(spark)
      val out = new Emissions(spark)
      g.feedEach(chunks)(Similarity.hybridServePqStreamRefreshing(_, dir)(out.emit)) { i =>
        // the maintenance path fires: generation 1 goes live between
        // micro-batches with one atomic marker create
        if (i == 0) Similarity.pqServeGenPublish(spark, 1L)
      }
      // rrfFuse's output shape (query_id, rk, doc_id, rrf)
      out.df(StructType(Seq("query_id", "rk", "doc_id").map(StructField(_, LongType)) :+
          StructField("rrf", DoubleType)))
        .orderBy("query_id", "rk")
    }

  /** CONTINUOUS DELETION under the hard gate — the index lifecycle's
    * missing third verb (build: [[bm25Ingest]]; repair/compact:
    * StorageSpec; now forget): deletion requests arrive as replayed
    * micro-batches and each batch is applied to a freshly built one-shot
    * index as a fenced anti-join rewrite with df/stats rebuilt
    * ([[graft.operators.TextAnalysis.forgetBm25Docs]]). Anti-joins
    * compose and re-apply idempotently, so the sequential per-batch
    * deletes must land exactly on the batch-forget answer: the standard
    * query set against the final index hash-matches the
    * filtered-corpus oracle (txt_bm25_forget's).
    */
  def forgetDocs(spark: SparkSession, dir: String): DataFrame = gate(spark, "forgetdocs") { g =>
    import graft.operators.TextAnalysis
    val Seq(p, f, st) = Seq("gate_fg_post", "gate_fg_df", "gate_fg_stats").map(g.table)
    // 2 chunks: each micro-batch pays a full postings rewrite + stats
    // rebuild (the real price of physical deletion), and two sequential
    // deletes already prove the anti-join composition the gate exists
    // for — a third batch re-proves it at pure cost
    val stream = replay(spark, s"forgetids|$dir", chunks = 2)(
      (TextAnalysis.forgetDocIds(spark, dir), col("doc_id")))
    // full-corpus build first (one-shot tables: no staleness interplay
    // with the batch row's dedicated tables)
    TextAnalysis.bm25IndexWrites(spark, dir, p, f, st).foreach(_._2())
    g.drain(TextAnalysis.bm25ForgetStream(stream, p, f, st))
    bm25Answer(spark, dir, p, f, st)
  }

  /** The standard BM25 query set against a gate-built index, materialized;
    * refreshed first, since the stream's cloned session wrote it.
    */
  private def bm25Answer(spark: SparkSession, dir: String,
      p: String, f: String, st: String): DataFrame = {
    import graft.operators.TextAnalysis
    Seq(p, f, st).foreach(spark.catalog.refreshTable)
    materialize(TextAnalysis.bm25SearchAgainst(spark, TextAnalysis.bm25Queries(spark, dir), p, f, st))
      .orderBy("query_id", "rk")
  }

  /** Continuous deletion for the DEDUP index under the hard gate: the
    * contested-content forget set (the corpus docs suppressing an
    * arrival, same derivation as the batch `dedup_forget`) is replayed as
    * deletion-request micro-batches, each applied as one fenced anti-join
    * rewrite of the band table ([[graft.operators.Dedup
    * .corpusForgetStream]]); the post-stream verdicts must equal the
    * single batch forget — anti-joins compose and re-apply idempotently,
    * so any chunking of the deletion stream lands on the same index.
    * Completes batch + continuous deletion across all four persisted
    * index families (BM25, IVF, PQ, dedup bands). 2 chunks for the same
    * reason as [[forgetDocs]]: each batch pays the full rewrite, and two
    * sequential deletes already prove the composition.
    */
  def dedupForget(spark: SparkSession, dir: String): DataFrame = gate(spark, "dedupfg") { g =>
    import graft.operators.Dedup
    val t = g.table("gate_fg_bands")
    Dedup.persistCorpusBands(spark, dir, t)
    val fgIds = Dedup.incrementalAgainst(spark, dir, t)
      .filter(!col("keep")).select(col("match_doc").as("doc_id")).distinct()
    val stream = replay(spark, s"dedupfg|$dir", chunks = 2)((fgIds, col("doc_id")))
    g.drain(Dedup.corpusForgetStream(stream, t))
    // rewrites ran in the stream's cloned session; refresh THIS one
    spark.catalog.refreshTable(t)
    materialize(Dedup.incrementalAgainst(spark, dir, t))
  }

  /** Continuous deletion for the PHASH index under the hard gate — the
    * fifth and last persisted index family to get the verb (BM25, IVF,
    * PQ, dedup bands have it): the contested-content forget set (the
    * corpus docs perceptually suppressing an arrival, same derivation as
    * the batch `mm_phash_forget`) is replayed as deletion-request
    * micro-batches, each applied as one fenced anti-join rewrite of the
    * phash band table ([[graft.operators.Multimodal.phashForgetStream]]);
    * the post-stream verdicts must equal the single batch forget —
    * anti-joins compose and re-apply idempotently, so any chunking of the
    * deletion stream lands on the same index. 2 chunks for the same
    * reason as [[forgetDocs]]: each batch pays the full rewrite, and two
    * sequential deletes already prove the composition.
    */
  def mmForget(spark: SparkSession, dir: String): DataFrame = gate(spark, "mmfg") { g =>
    import graft.operators.Multimodal
    val t = g.table("gate_fg_phash")
    Multimodal.persistPhashBands(spark, dir, t)
    val fgIds = Multimodal.phashVerdictsAgainst(spark, dir, t)
      .filter(!col("keep")).select(col("match_id").as("doc_id")).distinct()
    val stream = replay(spark, s"mmfg|$dir", chunks = 2)((fgIds, col("doc_id")))
    g.drain(Multimodal.phashForgetStream(stream, t))
    // rewrites ran in the stream's cloned session; refresh THIS one
    spark.catalog.refreshTable(t)
    materialize(Multimodal.phashVerdictsAgainst(spark, dir, t))
  }

  /** THE UNIFIED DELETION WAVE OVER A REQUEST STREAM — the streaming
    * twin of `pipe_forget_all` ([[graft.operators.ForgetWave.forgetAll]]):
    * deletion requests for ALL FIVE index families arrive as one
    * (family, id) stream, and every micro-batch is applied as a durable
    * [[graft.operators.ForgetWave]] wave of its own — id sets published
    * to the batch's manifest first, family verbs applied in manifest
    * order, done markers sealing each. Family verbs are idempotent
    * anti-joins, so any chunking (and at-least-once redelivery — the
    * manifest makes a replayed batch skip, not re-derive) of the request
    * stream lands on the single-batch-wave index state; the verification
    * union must equal the batch oracle. The request sets are resolved
    * ONCE against the pre-wave builds — the stream a pipeline receives
    * is already resolved (a deletion request names content, and the
    * derived dedup/phash suppressor sets are that naming).
    *
    * Build + streamed wave run under the build-then-mutate staleness
    * gate (nine index tables, including the PQ five-fit, are too heavy
    * to rebuild per call); steady-state calls pay only the five
    * verification reads.
    */
  def forgetAllWave(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ForgetWave
    ForgetWave.forgetAllWith(spark, dir, ForgetWave.Wv2Tables,
      "forget-wave-stream:v1") { families =>
      gate(spark, "forgetall") { g =>
        val requests = families.map(f =>
            f.resolve().select(lit(f.name).as("family"),
              col(f.key).cast("long").as("id")))
          .reduce(_.unionByName(_))
        // resolved per wave, so staged privately rather than cached
        val chunks = Staged(stageChunkFiles(requests, col("id"), 2,
          Paths.get(g.dir("requests"))), requests.schema)
        g.feedEach(chunks)(g.foreachBatch(_, "append") { (batch, batchId) =>
          if (!batch.isEmpty) {
            val present = batch.select("family").distinct()
              .collect().map(_.getString(0)).toSet // bounded: <= 5 rows
            val b = batch.persist()
            try {
              val fams = families.filter(f => present(f.name)).map(f =>
                f.copy(resolve = () => b.filter(col("family") === f.name)
                  .select(col("id").as(f.key))))
              ForgetWave.run(spark, g.dir(s"wave=$batchId"), fams)
            } finally { b.unpersist(); () }
          }
        })(_ => ())
        ()
      }
    }
  }

  /** A copy-suppression loop is vacuous unless at least one kept
    * original's copy arrived later and was suppressed at Hamming 0 by an
    * ADMITTED (non-corpus) entry.
    */
  private def requireCopySuppressed(gateName: String, rows: Seq[Row]): Unit = {
    val keptIds = rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    if (!rows.exists(r => !r.getBoolean(2) && r.getLong(4) == 0L && keptIds.contains(r.getLong(3))))
      throw new IllegalStateException(
        s"$gateName: no copy was suppressed by an admitted original — the loop is vacuous")
  }

  /** The multimodal admission replay: augmented media arrivals in 3 chunks. */
  private def mmArrivals(spark: SparkSession, dir: String): Staged =
    stage(spark, s"mmadmit|$dir", 3)(
      (graft.operators.Multimodal.mmArrivals(spark, dir), col("doc_id")))

  /** CONTINUOUS MULTIMODAL ADMISSION under the hard gate — the phash
    * ingest loop ([[graft.operators.Multimodal.phashAdmitStream]]): the
    * corpus phash index is built first; augmented media arrivals
    * (originals + offset re-submissions that keep their kind — see
    * [[graft.operators.Multimodal.mmArrivals]]) replay in 3 doc_id-range
    * chunks; each micro-batch is hashed at the decode seam, judged
    * against the CURRENT index, and its keepers admitted — so every kept
    * original's later copy must be suppressed at Hamming 0, which is the
    * non-vacuity the re-submissions exist to force. Oracle: the per-chunk
    * induction with brute-force Hamming pairs (the banded join provably
    * equals them at this radius).
    */
  def mmAdmit(spark: SparkSession, dir: String): DataFrame = gate(spark, "mmadmit") { g =>
    import graft.operators.Multimodal
    val table = g.table("graft_gate_mmadmit")
    val chunks = mmArrivals(spark, dir)
    Multimodal.persistPhashBands(spark, dir, table)
    val out = new Emissions(spark)
    g.feedEach(chunks)(Multimodal.phashAdmitStream(_, table, Some(g.dir("ck")))(out.emit))(_ => ())
    requireCopySuppressed("mmAdmit", out.rows)
    out.df().orderBy("doc_id")
  }

  /** CHECKPOINT RECOVERY FOR transformWithState STATE — the restart
    * surface none of the other restart gates covers: `stream_q1_restart`
    * restores a built-in window aggregation's state and
    * `stream_pq_restart` the WRITE side of a persisted index; this gate
    * restores ARBITRARY RocksDB ValueState held by a user
    * StatefulProcessor ([[graft.operators.Pipeline.TokenBudgetStream]] —
    * one spent-token long per source). The admission stream ingests two
    * of three chunks under one query instance, STOPS, and a new instance
    * resumes from the same checkpoint to finish the replay. The final
    * verdict union must hash-match the same FIFO oracle as the
    * unrestarted gate: a processor whose state failed to restore would
    * judge every post-restart arrival against a zeroed spent-sum and
    * flip the over-budget tail back to keeps; a replayed batch would
    * double-emit verdicts and break the row count.
    */
  def tokenBudgetRestart(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetResumed(spark, dir, "tokrestart", Scoped ++ RocksDb)(_ => false)

  /** STATE-SCHEMA EVOLUTION across a checkpoint restart — the production
    * event the restart trilogy ([[q1Restart]], [[pqRestart]],
    * [[tokenBudgetRestart]]) doesn't cover: those resume the SAME
    * processor; real streams restart with CHANGED state shapes. Under
    * the Avro state encoding, instance 1 runs the V1 processor (state =
    * one spent-sum long per source) over two of three chunks, STOPS, and
    * instance 2 resumes the same checkpoint with
    * [[graft.operators.Pipeline.TokenBudgetStream.ProcessorEvolved]] —
    * the state widened to a struct with a new nullable field. Spark
    * evolves each restored record by field name (batches surfaces as
    * null), and the restored spent-sum must CARRY: the final verdict
    * union hash-matches the same FIFO oracle as the unevolved gate. A
    * migration that zeroed or re-keyed the state would flip the
    * over-budget tail back to keeps; a schema mismatch would kill the
    * restarted query outright.
    */
  def tokenBudgetEvolve(spark: SparkSession, dir: String): DataFrame =
    // the MIGRATED deployment resumes: same checkpoint, same state name,
    // widened schema
    tokenBudgetResumed(spark, dir, "tokevolve", Scoped ++ RocksDb ++ AvroState)(_ == 2)

  /** The token-budget stream stopped after two of three chunks and
    * resumed on the same checkpoint; instance `i` runs the evolved
    * processor when `evolved(i)`.
    */
  private def tokenBudgetResumed(spark: SparkSession, dir: String, name: String,
      conf: Seq[(String, String)])(evolved: Int => Boolean): DataFrame =
    gate(spark, name, conf) { g =>
      import graft.operators.Pipeline.{tokenBudgets, TokenBudgetStream}
      val budgets = tokenBudgets(spark, dir)
      val chunks = docs(spark, dir)
      val (w, ck, out) = (g.watch(chunks.schema), g.dir("ck"), new Emissions(spark))
      g.restart(w, chunks.files, 2) { i =>
        val q = if (evolved(i)) TokenBudgetStream.queryEvolved(w.stream, budgets)
          else TokenBudgetStream.query(w.stream, budgets)
        g.drain(g.foreachBatch(q.toDF(), "append", ck)((b, _) => out.emit(b)))
      }
      out.df(Encoders.product[TokenBudgetStream.TokVerdict].schema).orderBy("doc_id")
    }

  /** LATE-DATA AUDIT under the hard gate: events replayed in ARRIVAL
    * order (rowtime + deterministic bounded jitter — the reference's
    * disorder model, TaxiRideSource.java:126-134), each micro-batch
    * tagged against the watermark of strictly earlier batches with a
    * deliberately tight 30 s lag, so real rows land on the late side.
    * The oracle replays the identical chunking arithmetic (the staged
    * chunk id is a pure function of arrival_ms) and per-chunk watermark
    * evolution in SQL — the full audit, hash-checked.
    */
  def lateAudit(spark: SparkSession, dir: String): DataFrame = gate(spark, "lateaudit") { g =>
    val arr = StreamingQueries.lateArrivals(Rides.fromEvents(spark, dir))
    val stream = replay(spark, s"latearr|$dir",
      chunks = StreamingQueries.LateChunks)((arr, col("arrival_ms")))
    val schema = StructType(Seq(StructField("ride_id", LongType),
      StructField("is_start", BooleanType), StructField("rowtime_ms", LongType),
      StructField("late", BooleanType)))
    g.collect(schema)(StreamingQueries.lateAuditStream(stream)(_)).orderBy("ride_id")
  }

  /** Q1 OVER A DISORDERED STREAM with a deliberately tight watermark —
    * the gate that pins Spark's LATE-DROP semantics themselves: events
    * replay in rowtime+jitter arrival order (4 h disorder bound) while
    * the tumbling aggregation runs a 30 min watermark, so some arrivals
    * target windows the watermark already closed and Spark silently
    * drops them. The oracle replays the ENTIRE mechanism in SQL — the
    * jitter, the chunk arithmetic, the per-batch watermark over
    * FILTERED rows only (the watermark node sits above the NYC filter),
    * the drop predicate (a row dies iff its window end <= the watermark
    * governing its batch — a closed window's state is evicted and must
    * not resurrect; Spark PUBLISHES that watermark with one batch of
    * delay, so batch N is governed by stats through batch N-2 — the
    * oracle encodes exactly that, adjudicated empirically), and
    * append-mode emission — and the result tables must hash-match. A far-future in-NYC sentinel START (also present
    * in the oracle's arrival frame, so chunk boundaries agree) pushes
    * the final watermark past every real window; rowtimes are
    * ms-truncated so the engine's microsecond watermark arithmetic
    * can't straddle a window boundary the oracle's ms model misses.
    */
  def q1LateDrop(spark: SparkSession, dir: String): DataFrame = gate(spark, "q1late") { g =>
    val rides = Rides.fromEvents(spark, dir)
      .withColumn("rowtime", timestamp_millis(unix_millis(col("rowtime"))))
    val maxMs = rides.agg(max(unix_millis(col("rowtime")))).head().getLong(0)
    val sentinel = sentinelRides(spark, maxMs + StreamingQueries.LateAuditMaxDelayMs,
      (StreamingQueries.LateSentinelId, true))
    val arr = rides.unionByName(sentinel)
      .withColumn("arrival_ms", unix_millis(col("rowtime")) +
        StreamingQueries.arrivalJitter(col("rideId"), col("isStart")))
    val stream = replay(spark, s"ridesq1late|$dir",
      chunks = StreamingQueries.LateChunks)((arr, col("arrival_ms")))
    g.memory(StreamingQueries.q1Tumble(stream,
        s"${StreamingQueries.LateAuditLagMs / 1000} seconds"), "append")
      .filter(col("dept_time") <= maxMs + 600000L) // the sentinel's window
      .orderBy("dept_time", "cell")
  }

  /** CONTINUOUS VECTOR DELETION under the hard gate — the ANN half of
    * [[forgetDocs]]: forget requests replayed as micro-batches, each one
    * an atomic anti-join rewrite of a freshly built one-shot IVF index.
    * No derived statistics, so each batch is a single temp+rename; the
    * final standard search must hash-match the filtered-corpus oracle.
    */
  def ivfForget(spark: SparkSession, dir: String): DataFrame = gate(spark, "ivffg") { g =>
    import graft.operators.Similarity
    val table = g.table("gate_ivffg")
    val stream = replay(spark, s"ivfforgetids|$dir", chunks = 2)(
      (Similarity.forgetVecIds(spark, dir), col("vec_id")))
    Similarity.persistIvfIndex(spark, dir, table)
    g.drain(Similarity.ivfForgetStream(stream, table))
    // rewrites ran in the stream's cloned session (see forgetDocs)
    spark.catalog.refreshTable(table)
    materialize(Similarity.ivfTopkAgainst(spark, dir, table)).orderBy("q_id", "rank")
  }

  /** CONTINUOUS DECONTAMINATION under the hard gate: training documents
    * replayed as micro-batches, each checked against the FROZEN
    * benchmark band table ([[graft.operators.Training
    * .contaminationFuzzyStream]] — the fuzzy twin of BM25 percolation:
    * standing eval suite, arriving corpus). Per-doc independence +
    * frozen bench ⇒ emission union equals the batch fuzzy-decontamination
    * table (oracle: pipe_contamination_fuzzy's).
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = gate(spark, "contam") { g =>
    import graft.operators.Training
    val benchTable = g.table("gate_bench_bands")
    val stream = replay(spark, s"traindocs|$dir", chunks = 3)(
      (Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % Training.FuzzyBenchMod =!= 0), col("doc_id")))
    Training.fuzzyBenchBands(spark, dir).write.saveAsTable(benchTable)
    val schema = Training.contaminationFuzzy(spark, dir).schema // lazy: no job
    g.collect(schema)(Training.contaminationFuzzyStream(stream, benchTable)(_))
      .orderBy("doc_id", "bench_id")
  }

  /** CONTINUOUS INDEX BUILD under the hard gate: the document table is
    * replayed in chunks and every micro-batch is ADMITTED to an
    * initially-empty BM25 index as append-only partials (postings
    * bucket-aligned, df/stats generations) — the existing index is never
    * read or rewritten inside the stream. After close, the standard
    * query set against the grown index must answer EXACTLY like the
    * batch-built index (oracle: the bm25 top-k oracle) — tf/dl are
    * per-doc local and df/stats additive, so any chunking that keeps
    * docs whole folds to the same index.
    */
  def bm25Ingest(spark: SparkSession, dir: String): DataFrame = gate(spark, "bm25ing") { g =>
    import graft.operators.TextAnalysis
    val Seq(p, f, st) = Seq("bm25_ing_postings", "bm25_ing_df", "bm25_ing_stats").map(g.table)
    val stream = docs(spark, dir).stream(spark)
    g.drain(TextAnalysis.bm25IngestStream(stream, p, f, st)())
    bm25Answer(spark, dir, p, f, st)
  }

  /** INCREMENTAL LM fit under the hard gate: training docs replayed in
    * chunks, each micro-batch appending its raw count partials (bigrams
    * + token frequencies, NO vocab mapping — see
    * [[graft.operators.TextAnalysis.lmRawBigramCounts]] for why the
    * statistics must be stored pre-mapping) to an append-only parquet
    * lake; after the stream closes, one vocabulary-scale fold derives
    * the capped vocab and re-keys the bigram table through the event
    * map. The result must equal the BATCH fit bit-for-bit — the
    * associativity claim ("extend the reference corpus without
    * refitting") is the oracle, not a comment. Oracle: the batch
    * txt_lm_train oracle.
    */
  def lmFit(spark: SparkSession, dir: String): DataFrame = gate(spark, "lmfit") { g =>
    import graft.operators.TextAnalysis
    val stream = replay(spark, s"lmtrain|$dir", chunks = 3)(
      (Tables.load(spark, dir, "documents")
        .filter(col("source") === TextAnalysis.LmTrainSource), col("doc_id")))
    val (biDir, tokDir) = (g.dir("bi"), g.dir("tok"))
    // batchId-keyed subdir + overwrite = idempotent under foreachBatch
    // retries (an append-only sink would double-count a replayed
    // batch's partials and corrupt the fold); the batch=N dirname
    // surfaces as a partition column the fold's selectExpr ignores
    g.drain(TextAnalysis.lmFitStream(stream) { (id, bi, toks) =>
      bi.write.mode("overwrite").parquet(s"$biDir/batch=$id")
      toks.write.mode("overwrite").parquet(s"$tokDir/batch=$id")
    })
    materialize(TextAnalysis.lmModelFromRaw(
        spark.read.parquet(biDir), spark.read.parquet(tokDir)))
      .orderBy("l", "r")
  }

  /** Streaming exact dedup through micro-batches: every ride event is
    * delivered TWICE (the at-least-once redelivery a replayed source
    * actually produces — duplicates land in the same chunk, well inside
    * the watermark horizon), and
    * [[StreamingQueries.dedupEvents]] (`dropDuplicatesWithinWatermark` on
    * (rideId, isStart)) must reduce the doubled stream to exactly the
    * source table. Oracle: the batch src_rides oracle — any surviving
    * duplicate or over-dropped event hash-fails.
    */
  def dedupEvents(spark: SparkSession, dir: String): DataFrame = gate(spark, "dedupev") { g =>
    val stream = replay(spark, s"rides2x|$dir") {
      val rides = Rides.fromEvents(spark, dir)
      (rides.unionByName(rides), unix_millis(col("rowtime")))
    }
    graft.operators.TaxiQueries.srcRidesProjection(
      g.memory(StreamingQueries.dedupEvents(stream), "append"))
  }

  /** BOUNDED-STATE dedup under the hard gate — [[dedupEvents]] shows the
    * suppression half (duplicates inside the retention vanish); this gate
    * makes the EXPIRY half observable, the contract boundary that
    * distinguishes `dropDuplicatesWithinWatermark` from unbounded-state
    * dedup. Every ride is re-delivered once with an event-time gap of
    * (rideId % 4) × one third of the data span — 0 (exact duplicate,
    * same chunk by value-chunking), ~1, ~2, or ~3 replay chunks later.
    * Re-deliveries whose key state is still alive when their batch runs
    * are suppressed (emitted = 1); ones arriving after the governing
    * watermark passed first_event_ts + the 45-min retention hit an
    * expired key and are emitted AGAIN (emitted = 2) — bounded state
    * trades exactly-once for at-least-once beyond the window, and the
    * oracle prices that trade key by key: it replays the gap schedule,
    * the chunk arithmetic ([[StreamingQueries.chunkIdSql]]), and the
    * governing watermark
    * ([[StreamingQueries.watermarkOverSql]] at the publication delay
    * pinned by stream_q1_late_drop) entirely in SQL.
    */
  def dedupBounded(spark: SparkSession, dir: String): DataFrame = gate(spark, "dedupb") { g =>
    val rides = Rides.fromEvents(spark, dir).select(col("rideId"), col("rowtime"))
    val stream = replay(spark, s"dedupb|$dir") {
      val Array(mn, mx) = rides
        .agg(min(unix_millis(col("rowtime"))), max(unix_millis(col("rowtime"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val step = (mx - mn) / 3 // integer division, mirrored by the oracle's //
      val copies = rides.withColumn("rowtime",
        timestamp_millis(unix_millis(col("rowtime")) +
          (col("rideId") % 4).cast("long") * step))
      val doubled = rides.unionByName(copies)
        .withColumn("arrival_ms", unix_millis(col("rowtime")))
      (doubled, col("arrival_ms"))
    }
    g.memory(StreamingQueries.dedupBounded(stream.drop("arrival_ms")), "append")
      .groupBy("ride_id").agg(count(lit(1)).cast("int").as("emitted"))
      .orderBy("ride_id")
  }

  /** The dedup ingest replay: incoming docs plus offset re-submissions. */
  private def ingestArrivals(spark: SparkSession, dir: String): Staged =
    stage(spark, s"ingest|$dir", 3)(
      (graft.operators.Dedup.ingestArrivals(spark, dir), col("doc_id")))

  /** The SELF-GROWING ingest loop under the hard gate: admit → verdict →
    * compact across 3 micro-batches. Each chunk of incoming docs is judged
    * against the persisted corpus band table, its keepers are admitted
    * ([[graft.operators.Dedup.incrementalStreamAdmitting]] — batch N+1
    * dedups against everything batch 1..N kept), and
    * [[graft.operators.Dedup.compactCorpusBands]] folds the append files
    * BETWEEN micro-batches (the query is idle, honoring the single-writer
    * contract) — so the gate also proves verdicts are invariant under
    * compaction. Chunks are fed one file at a time so the maintenance pass
    * really runs between batches, not after the stream.
    *
    * The replayed stream is [[graft.operators.Dedup.ingestArrivals]]:
    * every incoming doc plus a later RE-SUBMISSION of the same text under
    * an offset id — without the re-submissions no incoming doc shares a
    * band with another (fixture property), and the self-growth could
    * never change a verdict (a vacuous green). With them, each kept
    * original's copy must match the admitted rows at sim 1.0.
    *
    * Oracle: [[graft.operators.Dedup.ingestAdmitOracle]] — the sequential
    * semantics unrolled per chunk (chunk k's eligible corpus = the 80%
    * split plus chunks < k's keepers), NOT the fixed-corpus batch oracle:
    * arrival order is part of the claim.
    */
  def ingestAdmit(spark: SparkSession, dir: String): DataFrame = gate(spark, "ingest") { g =>
    import graft.operators.Dedup
    val table = g.table("graft_gate_corpus")
    Dedup.persistCorpusBands(spark, dir, table)
    val chunks = ingestArrivals(spark, dir)
    val schema = Dedup.incremental(spark, dir).schema // lazy: no job
    val out = new Emissions(spark)
    // same workload-sized shuffle width as the other gates: the
    // admission joins and between-batch compaction rewrites move a few
    // thousand rows per chunk — 32-wide exchanges are pure task
    // overhead here (results are partition-count invariant)
    g.feedEach(chunks)(Dedup.incrementalStreamAdmitting(_, table, Some(g.dir("ck")))(out.emit)) {
      _ => Dedup.compactCorpusBands(spark, table)
    }
    out.df(schema).orderBy("doc_id")
  }

  /** Feed `chunks` one at a time into a private watched dir, drain each
    * micro-batch, then run `trigger` as the maintenance window; the
    * decision log must carry BOTH outcomes — a gate whose threshold never
    * skips measures nothing about steady state, and one that never fires
    * measures nothing about the repair.
    *
    * SUPPORTED RANGE: the per-family thresholds below are probed at
    * sf0.01/sf0.1, where per-append files-per-bucket growth is
    * write-width-driven, not data-size-driven (the recorded per-family
    * decision logs carried identical ratios at both SFs, README
    * "Round-19 probes"). Running a policy gate
    * at an unprobed SF or write width can legitimately produce a
    * single-outcome decision log, which this check rejects as vacuous
    * rather than reporting results — re-probe and adjust the threshold
    * before trusting the gate there.
    */
  private def policyWindows[M](g: Gate, gateName: String, chunks: Staged)(
      start: DataFrame => StreamingQuery)(trigger: => (M, Boolean)): Unit = {
    val decisions = g.feedEach(chunks)(start)(_ => trigger)
    if (!decisions.exists(_._2) || !decisions.exists(!_._2))
      throw new IllegalStateException(
        s"$gateName: the gate needs both a fired and a skipped window " +
          s"to be non-vacuous; got ${decisions.toList}")
  }

  /** THE COMPACTION TRIGGER DECIDING UNDER LIVE INGEST — [[ingestAdmit]]
    * with the unconditional between-batch fold replaced by
    * [[graft.operators.Dedup.compactIfFragmented]]: each maintenance
    * window measures files-per-bucket from the table listing (metadata
    * only — the steady-state cost of the policy) and folds only when
    * accumulated appends crossed the threshold. This completes the
    * maintenance-policy family — the skew triggers (`stream_ivf_policy`,
    * `stream_pq_policy`) decide when a LEARNED layout has drifted; this
    * one decides when a PHYSICAL layout has fragmented, the other
    * decision an LSM-style scheduler makes every window.
    *
    * The base table is folded to its 1.0 files-per-bucket floor before
    * the stream starts, so the measured ratios are purely the appends:
    * the fixture's three admit batches append enough files that at least
    * one window must SKIP (fold would cost more than it saves) and at
    * least one must FIRE — both asserted here, so a policy that
    * degenerates to always/never firing fails the gate rather than
    * passing on final-state equality.
    *
    * Oracle: [[graft.operators.Dedup.ingestAdmitOracle]] UNCHANGED —
    * admission verdicts must be invariant under ANY maintenance
    * schedule, which is exactly the claim that makes a trigger policy
    * deployable (compaction folds replay residue and small files; it
    * must never change what the corpus admits).
    */
  def compactPolicy(spark: SparkSession, dir: String): DataFrame = gate(spark, "cpolicy") { g =>
    import graft.operators.Dedup
    val table = g.table("graft_gate_cpolicy")
    Dedup.persistCorpusBands(spark, dir, table)
    Dedup.compactCorpusBands(spark, table) // seal the base layout at 1.0
    val chunks = ingestArrivals(spark, dir)
    val schema = Dedup.incremental(spark, dir).schema // lazy: no job
    val out = new Emissions(spark)
    policyWindows(g, "compactPolicy", chunks)(
      Dedup.incrementalStreamAdmitting(_, table, Some(g.dir("ck")))(out.emit))(
      Dedup.compactIfFragmented(spark, table, "band_key"))
    out.df(schema).orderBy("doc_id")
  }

  /** Files-per-bucket thresholds for the per-family policy gates, chosen
    * against the MEASURED per-append growth at the gate's write width
    * (each streaming append adds up to one file per (write task, touched
    * bucket) pair, so ratios climb in family-specific steps — recorded at
    * sf0.01 and sf0.1, README "Round-19 probes": bm25 ~3.7/append, ivf/pq
    * ~0.6, phash ~1.0): low enough that the replay's appends provably
    * cross it, high enough that at least one window — including the one
    * right after a fold (ratio back at ~1.0) — skips. Deployments tune
    * per ingest cadence, exactly like
    * [[graft.operators.Dedup.CompactMaxFilesPerBucket]].
    */
  private val Bm25PolicyMaxFiles = 5.5
  private val IvfPolicyMaxFiles = 1.5
  private val PqPolicyMaxFiles = 2.2
  private val MmPolicyMaxFiles = 2.5

  /** THE FRAGMENTATION POLICY ON THE BM25 INDEX — the text-retrieval
    * sibling of [[compactPolicy]] (which runs it on the dedup band
    * table): documents replay as micro-batches into an empty index
    * ([[graft.operators.TextAnalysis.bm25IngestStream]] — pure partial
    * appends), and after every batch a maintenance window measures the
    * POSTINGS table's files-per-bucket and fires the marker-fenced
    * [[graft.operators.TextAnalysis.compactBm25Index]] only past the
    * threshold. Compaction is content-invariant (distinct postings +
    * df/stats rebuilt from them), so the post-stream search must equal
    * the batch-built index — the bm25TopkOracle — under ANY decision
    * schedule; the gate additionally requires both outcomes to occur.
    */
  def compactPolicyBm25(spark: SparkSession, dir: String): DataFrame = gate(spark, "cp-bm25") { g =>
    import graft.operators.{Dedup, TextAnalysis}
    val Seq(p, f, st) = Seq("gate_cp_post", "gate_cp_df", "gate_cp_stats").map(g.table)
    policyWindows(g, "compactPolicyBm25", docs(spark, dir))(
      TextAnalysis.bm25IngestStream(_, p, f, st)())(
      Dedup.compactIfFragmentedWith(spark, p, Bm25PolicyMaxFiles)(
        () => { TextAnalysis.compactBm25Index(spark, p, f, st); () }))
    bm25Answer(spark, dir, p, f, st)
  }

  /** The fragmentation policy on the IVF-Flat index: vectors replay into
    * an empty index ([[graft.operators.Similarity.ivfIngestStream]]);
    * maintenance windows fire [[graft.operators.Similarity
    * .compactIvfIndex]] (single atomic distinct rewrite — no derived
    * stats, no marker) only past the threshold. Served top-k must equal
    * the batch-built index (ivfTopkOracle) under any schedule.
    */
  def compactPolicyIvf(spark: SparkSession, dir: String): DataFrame = gate(spark, "cp-ivf") { g =>
    import graft.operators.{Dedup, Similarity}
    val table = g.table("gate_cp_ivf")
    policyWindows(g, "compactPolicyIvf", embeddings(spark, dir))(
      Similarity.ivfIngestStream(_, table)())(
      Dedup.compactIfFragmentedWith(spark, table, IvfPolicyMaxFiles)(
        () => { Similarity.compactIvfIndex(spark, table); () }))
    spark.catalog.refreshTable(table)
    materialize(Similarity.ivfTopkAgainst(spark, dir, table)).orderBy("q_id", "rank")
  }

  /** The fragmentation policy on the PQ code index: models train on
    * two-thirds and freeze ([[pqIngest]]'s split), the rest replays as
    * admission micro-batches, and maintenance windows fire
    * [[graft.operators.Similarity.compactPqIndex]] only past the
    * threshold. The base index is sealed to one file per bucket first so
    * the first window measures ingest growth, not build layout. Served
    * result must equal the unscheduled ingest (pqIngestOracle).
    */
  def compactPolicyPq(spark: SparkSession, dir: String): DataFrame = gate(spark, "cp-pq") { g =>
    import graft.operators.{Dedup, Similarity}
    val Seq(table, coarseT, booksT) = Seq("gate_cp_pq", "gate_cp_pqc", "gate_cp_pqb").map(g.table)
    val (_, build, ingest) = ingestSplit(spark, dir)
    Similarity.buildPqIndex(spark, build, table, coarseT, booksT)
    Similarity.compactPqIndex(spark, table) // seal the base layout at 1.0
    policyWindows(g, "compactPolicyPq", ingest)(
      Similarity.pqAdmitStream(_, table, coarseT, booksT))(
      Dedup.compactIfFragmentedWith(spark, table, PqPolicyMaxFiles)(
        () => { Similarity.compactPqIndex(spark, table); () }))
    spark.catalog.refreshTable(table)
    materialize(Similarity.pqServe(spark, dir, table, coarseT, booksT)).orderBy("q_id", "rank")
  }

  /** The fragmentation policy on the PHASH band index — closing the
    * trigger across all five ingesting index families (dedup bands run
    * it in [[compactPolicy]], BM25/IVF/PQ above): the [[mmAdmit]]
    * admission loop with a maintenance window after every batch firing
    * [[graft.operators.Multimodal.compactPhashBands]] only past the
    * threshold. Admission verdicts are judged against table CONTENT and
    * compaction is content-invariant, so the verdict stream must equal
    * the unscheduled loop (mmAdmitOracle) — including the suppressed
    * copies the loop exists to force.
    */
  def compactPolicyMm(spark: SparkSession, dir: String): DataFrame = gate(spark, "cp-mm") { g =>
    import graft.operators.{Dedup, Multimodal}
    val table = g.table("gate_cp_mm")
    Multimodal.persistPhashBands(spark, dir, table)
    Multimodal.compactPhashBands(spark, table) // seal the base layout at 1.0
    val chunks = mmArrivals(spark, dir)
    val out = new Emissions(spark)
    policyWindows(g, "compactPolicyMm", chunks)(
      Multimodal.phashAdmitStream(_, table, None)(out.emit))(
      Dedup.compactIfFragmentedWith(spark, table, MmPolicyMaxFiles)(
        () => { Multimodal.compactPhashBands(spark, table); () }))
    requireCopySuppressed("compactPolicyMm", out.rows)
    out.df().orderBy("doc_id")
  }

  /** FIFO token-budget admission under the hard gate:
    * [[graft.operators.Pipeline.TokenBudgetStream]] (transformWithState,
    * RocksDB-backed — one long of state per source) spends each source's
    * FROZEN token budget first-come-first-kept as document micro-batches
    * arrive. The replay range-chunks by doc_id and the processor orders
    * within a batch by doc_id, so the arrival order the verdicts commit
    * to IS doc_id order — the oracle replays it as one running sum per
    * source. Because the running sum carries across micro-batches, a
    * processor that lost or double-counted state at any batch boundary
    * shifts every later verdict and hash-fails; the explicit check below
    * additionally requires some source's keep→drop BOUNDARY to fall in
    * chunk >= 1, so the boundary decision itself provably consumed
    * carried state (not just the tail verdicts).
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "tokbudget", Scoped ++ RocksDb) { g =>
      import graft.operators.Pipeline
      val budgets = Pipeline.tokenBudgets(spark, dir) // the frozen recipe
      val stream = docs(spark, dir).stream(spark)
      val out = g.memory(Pipeline.TokenBudgetStream.query(stream, budgets).toDF(), "append")
      // same integer chunk arithmetic as stageChunkFiles
      val ids = Tables.load(spark, dir, "documents")
        .agg(min(col("doc_id")).as("t0"), max(col("doc_id")).as("t1")).head()
      val (t0, span) = (ids.getLong(0), math.max(1L, ids.getLong(1) - ids.getLong(0) + 1))
      val lateCrossings = out.filter(!col("keep"))
        .groupBy("source").agg(min(col("doc_id")).as("first_drop"))
        .filter(((col("first_drop") - t0) * 3 / span).cast("int") >= 1)
      if (lateCrossings.isEmpty)
        throw new IllegalStateException(
          "tokenBudget gate: every budget crossing fell in chunk 0 — " +
            "the cross-batch state claim would be vacuous")
      out.orderBy("doc_id")
    }

  /** The idle-state TTL continuous count under the hard gate:
    * [[TtlContinuousCount]] (flatMapGroupsWithState + EventTimeTimeout —
    * the reference's withIdleStateRetentionTime, SURVEY A6) over chunk
    * replay, its update-style changelog keyed-upserted into a memory
    * store; the final value per cell must match
    * [[graft.operators.TaxiQueries.ttlCountOracleSql]], which replays
    * Spark's exact eviction semantics (timeouts fire only in triggers
    * where the key has no data; the watermark advances on departures
    * only) as window functions over the deterministic chunk assignment.
    * Non-vacuous on the fixture: cells that accumulate across batches,
    * cells that evict and restart, and single-batch cells all occur.
    */
  def ttlCount(spark: SparkSession, dir: String): DataFrame = gate(spark, "ttl") { g =>
    import graft.operators.TaxiQueries
    val sink = new MemoryUpsertSink(Seq("cell"))
    val stream = ridesReplay(spark, dir)
    g.drain(g.foreachBatch(TtlContinuousCount.query(stream, ttlMs = TaxiQueries.TtlGateMs).toDF(),
      "update")((b, _) => sink.upsertBatch(b)))
    spark.createDataFrame(sink.snapshot.values.toSeq.asJava,
        Encoders.product[TtlContinuousCount.CellCount].schema)
      .orderBy("cell")
  }

  /** The full Q4 cascade with its level-2 changelog ALSO shipped through
    * the network document-store contract ([[NetworkUpsertSink]] — the
    * reference's actual sink target, ElasticUpsertTableSink.scala:116-148)
    * into a [[MemoryDocStore]] suffering an injected brownout (the first
    * two bulk calls fail retryably). The gated table is read from the
    * DOCUMENT STORE, not the lake — so the oracle only matches if the
    * batching writer delivered every upsert AND delete through the retry
    * path. Oracle: the same batch q4 oracle as [[q4Cascade]].
    */
  def q4CascadeNet(spark: SparkSession, dir: String): DataFrame = gate(spark, "q4net") { g =>
    import spark.implicits._
    val storeId = s"gate-q4net-${runId.incrementAndGet()}"
    MemoryDocStore.clear(storeId)
    g.onClose(MemoryDocStore.clear(storeId))
    val sink = new ParquetUpsertSink(g.dir("level2"), Seq("dept_cnt"), 4)
    val mirror = new NetworkUpsertSink(
      MemoryDocStore.Factory(storeId, failFirstN = 2),
      Seq("dept_cnt"), maxActions = 4, maxRetries = 8, backoffMs = 1L)
    val stream = ridesReplay(spark, dir, chunks = 3)
    g.run(CascadeQ4.startToParquetFrom(StreamingQueries.q4Level1(stream),
        sink, g.dir("ck"), mirror)) { q =>
      q.awaitTermination()
      MemoryDocStore.store(storeId).values.toSeq
        .map(d => (d("dept_cnt").asInstanceOf[Long], d("cnt_freq").asInstanceOf[Long]))
        .toDF("dept_cnt", "cnt_freq")
        .orderBy("dept_cnt")
    }
  }

  /** The stream-static dimension join under the hard gate: the ride
    * stream enriched per micro-batch against the batch-built zone dim
    * ([[graft.operators.TaxiQueries.zoneEnrich]] — broadcast static side,
    * no state, append mode). Every NYC start ride must come out exactly
    * once with its zone label (NULL off the top-[[graft.operators
    * .TaxiQueries.ZoneCount]] cells — the left-join branch both ways).
    * Oracle: the same enrichment as one batch SQL.
    */
  def staticJoin(spark: SparkSession, dir: String): DataFrame = gate(spark, "szj", Unscoped) { g =>
    import graft.operators.TaxiQueries
    val dim = TaxiQueries.zoneDim(spark, dir)
    val out = TaxiQueries.zoneEnrich(ridesReplay(spark, dir), dim)
    val keyIdx = out.schema.fieldIndex("ride_id")
    // keyed by ride_id, not appended: foreachBatch is at-least-once, so a
    // retried micro-batch must overwrite its own rows, not duplicate them
    // (the idempotence MemoryUpsertSink gives the update-mode gates)
    val rows = scala.collection.mutable.LinkedHashMap.empty[Any, Row]
    g.drain(g.foreachBatch(out, "append") { (b, _) =>
      val batch = b.collect()
      rows.synchronized { batch.foreach(r => rows.update(r.get(keyIdx), r)) }
    })
    spark.createDataFrame(rows.synchronized(rows.values.toList).asJava, out.schema)
      .orderBy("ride_id")
  }

  /** The retract-stream ENCODING under the hard gate: q4's level-1
    * update-mode changelog runs through [[RetractStream]] (Flink's
    * toRetractStream analogue — every update first retracts the exact
    * previously-emitted row), and the gate folds the (isAdd, row) records
    * as a MULTISET. The fold must end with every multiplicity exactly 1
    * (a missed or wrong retraction leaves a stale row at 1, a double
    * retraction goes negative — both fail loudly), and the surviving rows
    * must hash-match the batch per-cell counts. Oracle: q4Level1OracleSql.
    */
  def q4Retract(spark: SparkSession, dir: String): DataFrame = gate(spark, "retract", Narrow) { g =>
    val retr = new RetractStream(Seq("cell"))
    val counts = scala.collection.mutable.Map.empty[Row, Int]
    val stream = ridesReplay(spark, dir)
    val schema = StreamingQueries.q4Level1(Rides.fromEvents(spark, dir)).schema
    g.drain(g.foreachBatch(StreamingQueries.q4Level1(stream), "update") { (b, _) =>
      retr.onBatch(b).foreach { case (isAdd, row) =>
        counts.synchronized {
          val n = counts.getOrElse(row, 0) + (if (isAdd) 1 else -1)
          if (n == 0) counts.remove(row) else counts.update(row, n)
          ()
        }
      }
    })
    val rows = counts.synchronized {
      val bad = counts.filter(_._2 != 1)
      require(bad.isEmpty, s"retract fold left non-unit multiplicities: $bad")
      counts.keys.toList
    }
    spark.createDataFrame(rows.asJava, schema)
      .select(col("cell"), col("dept_cnt"))
      .orderBy("cell")
  }

  /** Start q4's level-1 changelog over `rides` into the lake retract
    * encoder `retr`.
    */
  private def lakeRetract(g: Gate, retr: LakeRetractStream)(rides: DataFrame): StreamingQuery =
    g.foreachBatch(StreamingQueries.q4Level1(rides), "update") { (b, id) =>
      if (!b.isEmpty) retr.onBatch(b, id)
    }

  /** One fold over `retr`'s emission log feeds both the multiplicity check
    * and the returned `(key, value)` rows: a correct changelog folds every
    * superseded pair to 0 (its add canceled by its retract) and every
    * surviving row to exactly 1 — anything else is a missed/double
    * retraction.
    */
  private def liveRows(g: Gate, retr: LakeRetractStream, key: String, value: String,
      what: String): DataFrame = {
    val folded = g.cached(retr.emitted(g.spark)
      .groupBy(key, value)
      .agg(sum(when(col("is_add"), 1L).otherwise(-1L)).as("mult")))
    val bad = folded.filter(col("mult") =!= 1L && col("mult") =!= 0L).count()
    require(bad == 0, s"$what fold left $bad non-unit multiplicities")
    materialize(folded.filter(col("mult") === 1L).select(col(key), col(value)).orderBy(key))
  }

  /** The LEVEL-2 changelog (upserts AND deletes — the reference sink's
    * full contract, ElasticUpsertTableSink.scala:144-148) retract-encoded
    * through [[LakeRetractStream.onChangelog]]: the cascade's histogram
    * changelog feeds a retract mirror where a delete is Flink's
    * retract-without-add. The emission log's multiset fold must leave
    * exactly the live histogram (superseded AND deleted rows at 0,
    * survivors at 1) and hash-match the batch q4 oracle — deletes DO
    * fire on this replay (the net-sink gate proves delivery of the same
    * stream), so the retract-without-add branch is exercised, not dead.
    */
  def q4RetractL2(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "retractl2", Narrow) { g =>
      val sink = new ParquetUpsertSink(g.dir("level2"), Seq("dept_cnt"), 4)
      val retr = new LakeRetractStream(g.dir("retract"), Seq("dept_cnt"))
      val stream = ridesReplay(spark, dir, chunks = 3)
      g.run(CascadeQ4.startToParquetFrom(StreamingQueries.q4Level1(stream), sink,
          g.dir("ck"), retract = retr)) { q =>
        q.awaitTermination()
        liveRows(g, retr, "dept_cnt", "cnt_freq", "level-2 retract")
      }
    }

  /** The retract encoding again, through [[LakeRetractStream]] — the
    * cluster-scale form where last-emitted state lives in a parquet
    * upsert lake and the (is_add, row) records land in an append-only
    * emission log, nothing via the driver. The gate folds the emission
    * LOG as a multiset exactly like [[q4Retract]] folds the driver
    * callback records (every multiplicity must end at 1), but the fold
    * itself is a distributed groupBy over the log. Oracle:
    * q4Level1OracleSql — same as the driver-map form, so the two
    * encodings are certified interchangeable.
    */
  def q4RetractLake(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "retractlake", Narrow) { g =>
      val retr = new LakeRetractStream(g.dir("retract"), Seq("cell"))
      val stream = ridesReplay(spark, dir)
      g.drain(lakeRetract(g, retr)(stream))
      liveRows(g, retr, "cell", "dept_cnt", "lake retract")
    }

  /** RETENTION for the retract changelog under the hard gate: the same
    * level-1 cascade as [[q4RetractLake]], then the log-compaction verb
    * ([[LakeRetractStream.compactRetractLog]]) run TWICE — first sealing
    * only the replay's earlier batches (so the reader must stitch the
    * snapshot segment to the live logs above the seal), then sealing
    * everything. After each pass the consumer fold must be IDENTICAL to
    * the uncompacted fold — net-0 groups (an add canceled by its
    * retract) vanish physically, net-1 groups survive as one add — and
    * the final fold is hash-checked against the batch oracle. Non-vacuity
    * is asserted twice: the compaction must physically drop records
    * (superseded pairs existed), and live batches above the first seal
    * must exist (the mixed snapshot+log read path actually ran).
    */
  def q4RetractCompact(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "retractcompact", Narrow) { g =>
      val retr = new LakeRetractStream(g.dir("retract"), Seq("cell"))
      val stream = ridesReplay(spark, dir)
      g.drain(lakeRetract(g, retr)(stream))
      // every verification fold carries the raw record count (nrec) so a
      // single log read yields both the consumer fold AND the record
      // count — the previous shape read the emission log twice per
      // checkpoint (count, then fold)
      def foldWithCount(df: DataFrame): (Set[String], Long) = {
        val rows = df.groupBy("cell", "dept_cnt")
          .agg(sum(when(col("is_add"), 1L).otherwise(-1L)).as("mult"),
            count(lit(1)).as("nrec"))
          .collect()
        (rows.filter(_.getLong(2) == 1L)
          .map(r => s"[${r.get(0)},${r.get(1)}]").toSet,
          rows.map(_.getLong(3)).sum)
      }
      val (want, rawCount) = foldWithCount(retr.emitted(spark))
      val last = retr.lastBatchId(spark)
      // seal the first half only: snapshot + live logs must read together
      val (in1, out1) = retr.compactRetractLog(spark, last / 2)
      require(retr.emitted(spark).filter(col("batch") > last / 2).count() > 0,
        "mid-seal gate is vacuous: no live batches above the seal")
      require(foldWithCount(retr.emitted(spark))._1 == want,
        "mid-seal compaction changed the consumer fold")
      // seal everything: the changelog is now one snapshot segment
      retr.compactRetractLog(spark, last)
      val (finalFold, compactCount) = foldWithCount(retr.emitted(spark))
      require(finalFold == want,
        "full-seal compaction changed the consumer fold")
      require(compactCount < rawCount,
        s"compaction is vacuous: no superseded records dropped " +
          s"($rawCount -> $compactCount; mid-seal folded $in1 -> $out1)")
      materialize(retr.emitted(spark)
        .groupBy("cell", "dept_cnt")
        .agg(sum(when(col("is_add"), 1L).otherwise(-1L)).as("mult"))
        .filter(col("mult") === 1L)
        .select(col("cell"), col("dept_cnt")).orderBy("cell"))
    }

  /** THE RETENTION POLICY DECIDING UNDER LIVE INGEST — the retract log's
    * member of the maintenance-trigger family (`stream_compact_policy*`
    * run the fragmentation trigger on the index families; the changelog
    * fragments by LOG COUNT): the q4 cascade replays chunk-at-a-time
    * through the lake retract encoder, and after every drained
    * micro-batch a maintenance window runs
    * [[LakeRetractStream.compactRetractLogIfLong]] — one listing of the
    * emission root (zero data jobs) — firing the full fold only past
    * [[RetractPolicyMaxLogs]] live logs. With 4 chunks and the threshold
    * at 2, the decision log must carry skips (the windows while the log
    * builds, and the one right after a fold) AND a fire. Compaction is
    * fold-invariant, so the final consumer fold must hash-match the
    * batch oracle under any decision schedule.
    */
  def q4RetractPolicy(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "retractpolicy", Narrow) { g =>
      val retr = new LakeRetractStream(g.dir("retract"), Seq("cell"))
      val chunks = stage(spark, s"rides|$dir", chunks = 4)(rides(spark, dir))
      // offsets for every published log are committed here (the query
      // just drained), so the committed watermark IS the max published
      // id — the quiescent-caller case of the explicit-watermark rule
      policyWindows(g, "q4RetractPolicy", chunks)(lakeRetract(g, retr))(
        retr.compactRetractLogIfLong(spark, RetractPolicyMaxLogs, retr.lastBatchId(spark)))
      liveRows(g, retr, "cell", "dept_cnt", "retract")
    }

  private val RetractPolicyMaxLogs = 2

  /** Per-user funnel through micro-batches: [[FunnelStream]]'s update-mode
    * snapshots keyed-upserted into a memory store; the final state per
    * user is the answer. A far-future sentinel of a filtered-out event
    * type advances the watermark so every pending event folds and the
    * event-time timers fire. The batch funnel's population is users with
    * ≥1 view (its s1 base relation), so depth-0 snapshots are excluded.
    * Oracle: the batch rel_funnel oracle.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = gate(spark, "funnel") { g =>
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    val maxMs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
    val sentinel = Seq((-1L, new Timestamp(maxMs + 600000L), "gate_sentinel"))
      .toDF("user_id", "ts", "event_type")
    val sink = new MemoryUpsertSink(Seq("user_id"))
    val stream = replay(spark, s"eventsfunnel|$dir")(
      (ev.unionByName(sentinel), unix_millis(col("ts"))))
    // the per-user funnel fold keeps one flatMapGroupsWithState store per
    // shuffle partition, and at the session default of 32 the per-batch
    // store commits dominated the gate (measured 7.2 s vs 3.3 s sized)
    g.drain(g.foreachBatch(FunnelStream.funnelStream(stream).toDF(), "update")(
      (b, _) => sink.upsertBatch(b)))
    spark.createDataFrame(sink.snapshot.values.toSeq.asJava,
        Encoders.product[FunnelStream.FunnelUpdate].schema)
      .filter(col("t_view").isNotNull)
      .orderBy("user_id")
  }
}
