package graft.tools

/** Per-micro-batch diagnostic for a stream gate: runs one named
  * `stream_*` query with a StreamingQueryListener attached and prints
  * each batch's input rows, phase durations (addBatch/getBatch/planning/
  * offset commits), and state-store rows/memory — the evidence that
  * separates data work from fixed per-batch overhead (a zero-row batch
  * with a multi-second addBatch is store-commit overhead, not compute;
  * that observation is what sized StreamGate.Width).
  *
  * Usage: runMain graft.tools.StreamTime <queryName> [sfDir] [runs]
  */
object StreamTime {
  def main(args: Array[String]): Unit = {
    val name = if (args.length > 0) args(0) else "stream_q8_pair"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.core.EngineSession.create("local[32]", 32)
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[batch] id=${p.batchId} rows=${p.numInputRows} " +
          s"total=${p.batchDuration}ms addBatch=${p.durationMs.get("addBatch")}ms " +
          s"getBatch=${p.durationMs.get("getBatch")} latestOffset=${p.durationMs.get("latestOffset")} " +
          s"queryPlanning=${p.durationMs.get("queryPlanning")} walCommit=${p.durationMs.get("commitOffsets")} " +
          s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")} " +
          s"stateMemory=${p.stateOperators.map(_.memoryUsedBytes).mkString(",")}")
      }
    })
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[gate] $name run $i total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
