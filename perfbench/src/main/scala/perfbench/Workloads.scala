package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.sinks.{MemoryDocStore, NetworkUpsertSink, ParquetUpsertSink}
import graft.sources.Rides
import graft.streaming.{CascadeQ4, StreamingQueries}

/** Per-op layer figures a workload records while tracing. */
final class OpLayers {
  val values = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
}

/** One workload: what the warm pass runs, what one op is, and what the
  * check pass writes for the oracle comparison.
  */
trait Workload {
  /** Untimed warm pass on a fresh session. */
  def warm(spark: SparkSession): Unit
  /** Whether op `i` can run (a stream runs out of chunks). */
  def hasOp(i: Int): Boolean = true
  /** Ops in one pass; the timed phase ends on a whole pass. */
  def passLength: Int = 1
  /** Ops the timed phase runs at least, so every run has the same sample count. */
  def minOps: Int
  /** Op `i` under `opSpan`; returns its latency in seconds. */
  def op(spark: SparkSession, i: Int, tr: Tracer, opSpan: Int, layers: OpLayers): Double
  /** Name of op `i`, for the per-op record. */
  def opName(i: Int): String
  /** Output name -> the DuckDB oracle SQL it must equal. */
  def oracles: Map[String, String]
  /** Write every output to `dir/<name>`. */
  def check(spark: SparkSession, dir: String): Unit
}

object Workload {
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def writeOut(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.count(Files.isRegularFile(_)).toLong
      finally walk.close()
    }
}

/** Queries of the program's public `(spark, dir) => DataFrame` table, run
  * in a seeded order each pass. One op is one query call: build (the call),
  * plan (`executedPlan`) and exec (the noop-sink write).
  */
final class BatchQueries(names: Seq[String], input: String, seed: Long) extends Workload {
  /** Two passes: the median of one pass of unlike queries swings with which
    * query lands in the middle.
    */
  override def minOps: Int = 2 * passLength

  private val fns = names.map(n => n -> SparkEntry.queries(n))
  private val rng = new scala.util.Random(seed)
  private val order = mutable.ArrayBuffer.empty[Int]

  private def pos(i: Int): Int = {
    while (order.length <= i) order ++= rng.shuffle(fns.indices.toList)
    order(i)
  }

  def opName(i: Int): String = fns(pos(i))._1

  override def passLength: Int = fns.length

  def warm(spark: SparkSession): Unit =
    fns.foreach { case (name, fn) =>
      // a broken query must show as failed ops, not end the run here
      try Workload.force(fn(spark, input))
      catch { case e: Exception => System.err.println(s"[perfbench] warm $name failed: $e") }
    }

  def op(spark: SparkSession, i: Int, tr: Tracer, opSpan: Int, layers: OpLayers): Double = {
    val fn = fns(pos(i))._2
    val t0 = System.nanoTime()
    val df = tr.span(opSpan, "build")(_ => fn(spark, input))
    tr.span(opSpan, "plan")(_ => df.queryExecution.executedPlan)
    tr.span(opSpan, "exec")(_ => Workload.force(df))
    (System.nanoTime() - t0) / 1e9
  }

  def oracles: Map[String, String] = names.map(n => n -> SparkEntry.oracleSql(n)).toMap

  def check(spark: SparkSession, dir: String): Unit =
    fns.foreach { case (name, fn) =>
      try Workload.writeOut(fn(spark, input), s"$dir/$name")
      finally spark.catalog.clearCache()
    }
}

/** The Q4 cascade as a scheduled incremental deployment: each op lands one
  * chunk of rides (reference CSV format) atomically in a watched directory,
  * runs the cascade as an AvailableNow query that resumes from its
  * checkpoint, and reads the published level-2 lake once. The histogram is
  * also mirrored through the network upsert sink into an in-memory store.
  */
final class StreamCascade(input: String, work: Path) extends Workload {
  private val chunks: Seq[Path] = {
    val ls = Files.list(Path.of(input, "chunks"))
    try ls.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally ls.close()
  }
  private val watch = work.resolve("watch")
  private val staging = work.resolve("staging")
  private val lakeDir = work.resolve("lake")
  private val ckDir = work.resolve("checkpoint")
  private val storeId = "perfbench-mirror"
  private var landed = 0
  private val lake = new ParquetUpsertSink(lakeDir.toString, Seq("dept_cnt"), StreamCascade.LakeBuckets)
  private val mirror = new NetworkUpsertSink(MemoryDocStore.Factory(storeId), Seq("dept_cnt"))

  /** Chunks landed so far (the oracle covers exactly these). */
  def landedChunks: Int = landed

  override def hasOp(i: Int): Boolean = landed < chunks.length

  override def minOps: Int = StreamCascade.TimedOps

  def opName(i: Int): String = "cascade_chunk"

  private def land(): Unit = {
    Files.createDirectories(watch)
    Files.createDirectories(staging)
    val src = chunks(landed)
    val tmp = staging.resolve(src.getFileName)
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, watch.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
    landed += 1
  }

  private def run(spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = CascadeQ4.startToParquetFrom(
      StreamingQueries.q4Level1(Rides.streamFromCsv(spark, watch.toString)),
      lake, ckDir.toString, mirror)
    q.awaitTermination()
    q
  }

  private def read(spark: SparkSession): Unit = Workload.force(lake.snapshot(spark))

  def warm(spark: SparkSession): Unit =
    (0 until StreamCascade.WarmOps).foreach { _ => land(); run(spark); read(spark) }

  def op(spark: SparkSession, i: Int, tr: Tracer, opSpan: Int, layers: OpLayers): Double = {
    tr.span(opSpan, "land")(_ => land())
    val calls0 = MemoryDocStore.calls(storeId).get
    var runNs = 0L
    val q = tr.span(opSpan, "run") { _ =>
      val t0 = System.nanoTime()
      try run(spark) finally runNs = System.nanoTime() - t0
    }
    val readMs = tr.span(opSpan, "read") { _ =>
      val t0 = System.nanoTime()
      read(spark)
      (System.nanoTime() - t0) / 1e6
    }
    layers.add("sinks.lake_read_ms", readMs)
    if (tr.on) {
      val runMs = runNs / 1e6
      val progress = q.recentProgress.toSeq
      def phase(k: String): Double =
        progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
      val states = progress.flatMap(_.stateOperators)
      layers.add("streaming.run_ms", runMs)
      layers.add("streaming.start_ms", runMs - phase("triggerExecution"))
      layers.add("streaming.add_batch_ms", phase("addBatch"))
      layers.add("streaming.planning_ms", phase("queryPlanning"))
      layers.add("streaming.wal_commit_ms", phase("walCommit"))
      layers.add("streaming.commit_offsets_ms", phase("commitOffsets"))
      layers.add("streaming.source_ms", phase("latestOffset") + phase("getBatch"))
      layers.add("streaming.state_commit_ms", states.map(_.commitTimeMs.toDouble).sum)
      // row and byte totals are levels, not per-batch work: take the last
      states.lastOption.foreach { s =>
        layers.add("streaming.state_rows", s.numRowsTotal.toDouble)
        layers.add("streaming.state_bytes", s.memoryUsedBytes.toDouble)
      }
      layers.add("streaming.state_cache_misses", states.map(s =>
        Option(s.customMetrics.get("loadedMapCacheMissCount")).map(_.doubleValue).getOrElse(0.0)).sum)
      layers.add("sinks.lake_files", Workload.countFiles(lakeDir).toDouble)
      layers.add("sinks.checkpoint_files", Workload.countFiles(ckDir).toDouble)
      layers.add("sinks.bulk_calls", (MemoryDocStore.calls(storeId).get - calls0).toDouble)
      layers.add("sinks.docs", MemoryDocStore.store(storeId).size.toDouble)
    }
    runNs / 1e9
  }

  def oracles: Map[String, String] = {
    val q4 = SparkEntry.oracleSql("q4_cnt_freq")
    Map("lake" -> q4, "mirror" -> q4)
  }

  def check(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    Workload.writeOut(lake.snapshot(spark).select(col("dept_cnt"), col("cnt_freq"))
      .orderBy("dept_cnt"), s"$dir/lake")
    Workload.writeOut(MemoryDocStore.store(storeId).values.toSeq
      .map(d => (d("dept_cnt").asInstanceOf[Long], d("cnt_freq").asInstanceOf[Long]))
      .toDF("dept_cnt", "cnt_freq").orderBy("dept_cnt"), s"$dir/mirror")
  }
}

object StreamCascade {
  /** Ops run untimed in the warm pass (the first creates the checkpoint). */
  val WarmOps = 1
  /** Timed ops per run: each restarts the query, a few seconds apiece. */
  val TimedOps = 6
  /** Lake buckets, as in the program's own cascade gates. */
  val LakeBuckets = 4
}
