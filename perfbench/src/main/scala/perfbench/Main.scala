package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.core.EngineSession

/** One benchmark run of one workload in one JVM, driven by run.py:
  *
  *  1. set-up: session creation plus the untimed warm pass, timed from JVM
  *     start;
  *  2. the timed phase: a closed loop on this one thread, op after op,
  *     until the workload's fixed number of ops ran, `--seconds` have
  *     passed and the last pass is whole;
  *  3. the retained heap after a full GC;
  *  4. the check pass, which writes every output and the oracle SQL to
  *     `<out>/check` for the oracle compare.
  *
  * Results go to `<out>/result.json`; with `--trace 1` the per-op layer
  * figures are included and the spans go to `<out>/spans.json`.
  */
object Main {
  val TaxiQueries: Seq[String] = Seq("src_rides", "q1_tumble", "q2_tumble_sql",
    "q3_over_window", "q3_over_recent", "q4_cnt_freq", "q5_geo_hour",
    "q6_sliding", "q7_session", "q8_pair_join", "q8_pair_outer")

  final case class OpRecord(name: String, latencyS: Option[Double], error: Option[String],
                            layers: OpLayers)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val input = a("input")
    val out = Path.of(a("out"))
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val tr = new Tracer(trace)
    val wl: Workload = a("workload") match {
      case "taxi_batch" => new BatchQueries(TaxiQueries, input, a("seed").toLong)
      case "stream_cascade" => new StreamCascade(input, out.resolve("work"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // ---- set-up -----------------------------------------------------------
    val t0 = System.nanoTime()
    val spark = tr.span(tr.root, "session")(_ => EngineSession.create(s"local[$cores]", cores))
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    tr.span(tr.root, "warm")(_ => wl.warm(spark))
    val t2 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // ---- timed phase --------------------------------------------------------
    tr.attach(spark.sparkContext)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val seconds = a("seconds").toDouble
    val tStart = System.nanoTime()
    def more(i: Int): Boolean = wl.hasOp(i) &&
      ((System.nanoTime() - tStart) / 1e9 < seconds || i < wl.minOps || i % wl.passLength != 0)
    var i = 0
    while (more(i)) {
      val layers = new OpLayers
      val (gcCount0, gcMs0) = Tracer.gc()
      val rec = tr.span(tr.root, "op") { id =>
        try OpRecord(wl.opName(i), Some(wl.op(spark, i, tr, id, layers)), None, layers)
        catch { case e: Exception =>
          System.err.println(s"[perfbench] op $i (${wl.opName(i)}) failed: $e")
          OpRecord(wl.opName(i), None, Some(e.toString), layers)
        }
      }
      if (trace) {
        val (gcCount1, gcMs1) = Tracer.gc()
        layers.add("jvm.gc_count", (gcCount1 - gcCount0).toDouble)
        layers.add("jvm.gc_ms", (gcMs1 - gcMs0).toDouble)
      }
      ops += rec
      i += 1
    }
    val timedWallS = (System.nanoTime() - tStart) / 1e9

    // ---- retained heap --------------------------------------------------------
    // Spark frees blocks of collected broadcasts, RDDs and shuffles on its
    // cleaner thread after a GC finds them unreachable: collect, give the
    // cleaner time, collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val landed: Map[String, Any] = wl match {
      case s: StreamCascade => Map("landed_chunks" -> s.landedChunks)
      case _ => Map.empty
    }

    // ---- check pass -----------------------------------------------------------
    // the layout tools/local_verify.py reads: <dir>/oracle_sql.json, <dir>/<name>
    val checkDir = Files.createDirectories(out.resolve("check"))
    Files.writeString(checkDir.resolve("oracle_sql.json"), Json(wl.oracles))
    val checkError =
      try { wl.check(spark, checkDir.toString); None }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] check pass failed: $e")
        Some(e.toString)
      }
    // stopping drains the listener bus, so every task end is counted below
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "session_ms" -> (t1 - t0) / 1e6, "warm_ms" -> (t2 - t1) / 1e6,
      "timed_wall_s" -> timedWallS, "retained_heap_mb" -> heapMb,
      "check_error" -> checkError.orNull,
      "ops" -> ops.toSeq.map(o => Map("name" -> o.name,
        "latency_s" -> o.latencyS.getOrElse(null), "error" -> o.error.orNull,
        "layers" -> o.layers.values))) ++ landed
    if (trace) {
      result("op_layers") = Layers.perOp(tr, ops.map(_.layers).toSeq, cores)
      Files.writeString(out.resolve("spans.json"), Json(tr.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    }
    Files.writeString(out.resolve("result.json"), Json(result))
  }
}
