package graft


/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, full materialization through the noop sink (count()
  * would let column pruning skip most of the work), one JSON line out.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional query filter for local iteration
    val only = SparkEntry.onlySelected("bench")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.EngineSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm up codegen/classloading/shuffle machinery off the clock — both
    // pipeline families: the taxi/events path (entry) and the documents
    // shingle/md5 path (minhash at the smoke SF — same generated classes,
    // tiny data), so the first shingle query on the clock doesn't absorb
    // several seconds of codegen that alphabetical ordering would otherwise
    // pin on whichever dedup query sorts first
    try force(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    // stage the JSONL landing zone off the clock: the benched operator is
    // the declared-schema ingest READ; the harness's own corpus-to-JSONL
    // serialization (memoized per JVM in stage()) is setup, not workload
    try { graft.sources.DocsJsonl.stage(spark, sfDir); () }
    catch { case e: Throwable => System.err.println(s"[bench] jsonl staging failed: ${e.getMessage}") }
    // SPARK_GRAFT_REPEAT=n repeats the whole measured loop n times: the
    // box's noise band is ~±25% (r5 vs r6 ran byte-identical code and
    // "moved" 1.22x), so per-query claims need n>=3; the reported
    // per-query value is the MEDIAN across repeats
    // tolerant parse: a typo'd value must not abort the whole bench before
    // a single query runs (per-query failures are carefully non-fatal; the
    // config parse shouldn't be the one fragile spot)
    val repeat = math.max(1, sys.env.get("SPARK_GRAFT_REPEAT").map { s =>
      s.toIntOption.getOrElse {
        System.err.println(s"[bench] SPARK_GRAFT_REPEAT='$s' is not a number; using 1")
        1
      }
    }.getOrElse(1))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // ONE FULL UNTIMED PASS before the clock starts. This replaces the old
    // piecemeal warmups (entry + cluster + substringScrub) and fixes two
    // measured artifact classes at once:
    //   1. cold model fits billed as query time — every fit/apply operator
    //      (NB weights, k-means centroids, BPE merges, band/window tables,
    //      bucketed fact layouts) persists through its own gated persist*
    //      during this pass, so timed runs measure steady-state applies
    //      (r12: rel_bucketed_join 3.69s vs 1.29s steady, pipe_nb_classify
    //      2.08x, txt_bpe_apply_indexed 2.55x — all cold-fit noise);
    //   2. per-family JIT/codegen billed to whichever family member sorts
    //      first (r12: dedup_cluster/txt_bpe_apply/txt_norm_dedup >2x
    //      drifts on unchanged code). Warming per-family with hand-picked
    //      proxies missed generated classes; running the real queries
    //      can't. SPARK_GRAFT_SKIP_WARM=1 skips it (cold-path debugging).
    if (!sys.env.get("SPARK_GRAFT_SKIP_WARM").contains("1")) {
      selected.foreach { case (name, fn) =>
        spark.catalog.clearCache()
        try force(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] warm pass $name failed: ${e.getMessage}") }
      }
    }
    // box-load context per query: round 17 burned hours adjudicating
    // ±2x per-query drift that turned out to be OUTSIDE load (loadavg
    // 2.5-3.6 from other tenants); sampling /proc/loadavg before each
    // query makes the next drift adjudication a field read instead of a
    // worktree control run
    def loadAvg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadSamples = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double)]
    def timedPass(r: Int, qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)]): Seq[(String, Double)] =
      qs.map { case (name, fn) =>
        // drop any blocks an operator cached: cached state must not leak
        // across (or speed up) unrelated queries in this long-lived session
        spark.catalog.clearCache()
        // settle the heap between queries: allocation-heavy neighbors were
        // bleeding GC pauses into unrelated queries' timings
        System.gc()
        loadSamples += ((r, name, loadAvg()))
        val t0 = System.nanoTime()
        // a broken query must be visible, not a phantom speedup: report -1
        // and log the failure instead of swallowing it into a ~0s timing
        try {
          force(fn(spark, sfDir))
          name -> (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED (run $r): ${e.getMessage}")
            name -> -1.0
        }
      }
    def median(vs: Seq[Double]): Double = {
      val ok = vs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      // true median for even n (middle-pair mean), not the upper-middle
      // order statistic — repeat=2 would otherwise always report the
      // slower run
      else if (ok.length % 2 == 1) ok(ok.length / 2)
      else (ok(ok.length / 2 - 1) + ok(ok.length / 2)) / 2
    }
    val baseRuns: Seq[Seq[(String, Double)]] =
      (1 to repeat).map(r => timedPass(r, selected))
    // SUB-SECOND COHORT gets extra samples: queries this fast sit inside
    // the box's scheduling jitter, and at repeat=3 a single noisy run
    // moves the reported median by >1.5x — every round's entire drift
    // list has been sub-second queries on byte-unchanged code. Topping
    // the cohort up to SubSecondSamples total runs costs a few seconds
    // of wall clock and zeroes the recurring adjudication cost. Only at
    // repeat>=3 (the round-close discipline): local repeat=1 iteration
    // stays one pass.
    val SubSecondFloorSec = 1.5
    val SubSecondSamples = 7
    val cohort = selected.filter { case (name, _) =>
      val m = median(baseRuns.map(_.toMap.apply(name)))
      m >= 0 && m < SubSecondFloorSec
    }
    val extraRuns: Seq[Seq[(String, Double)]] =
      if (repeat >= 3 && cohort.nonEmpty)
        (repeat + 1 to SubSecondSamples).map(r => timedPass(r, cohort))
      else Seq.empty
    val runs = baseRuns ++ extraRuns
    val loadEnd = loadAvg()
    val results = selected.map(_._1).map { name =>
      name -> median(runs.flatMap(_.toMap.get(name)))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a query that failed in SOME repeats still reports the median of its
    // successful runs — surface the partial failures explicitly, or a
    // flaky query reads as a clean (and possibly faster) number
    val failedRuns = selected.map(_._1).map { name =>
      name -> runs.count(_.toMap.get(name).exists(_ < 0))
    }.filter(_._2 > 0)
    val failedJson = failedRuns.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val loads = loadSamples.map(_._3).filter(_ >= 0)
    val loadJson = "\"loadavg\":" + (
      if (loads.isEmpty) "{}"
      else s"""{"min":${loads.min},"max":${loads.max},"mean":${loads.sum / loads.size},"end":$loadEnd}""")
    // durable full artifact: every query x every run, written to a file
    // the round can commit — the driver's log-tail capture truncates the
    // first ~10 (alphabetical) queries of the stdout line, which silently
    // ate the dedup family's numbers every round
    val sfBase = new java.io.File(sfDir).getName
    // a SPARK_GRAFT_ONLY-filtered run must never clobber the committed
    // full artifact — route it to /tmp unless an out path is explicit
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse(
      if (only.isDefined) s"/tmp/graft_bench_${sfBase}_partial.json"
      else s"bench/${sfBase}_full.json")
    try {
      val f = new java.io.File(outPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      val runsJson = runs.zipWithIndex.map { case (run, i) =>
        "\"run" + (i + 1) + "\":" + run.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")
      }.mkString(",")
      // per-query 1-min loadavg sampled just before each timed run — the
      // drift-adjudication context VERDICT r17 asked for
      val loadRunsJson = (1 to runs.length).map { r =>
        "\"load_run" + r + "\":" + loadSamples.filter(_._1 == r)
          .map { case (_, k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")
      }.mkString(",")
      // r20 ADVICE: report the top-up honestly — `subsecond_extra_runs`
      // counts only the cohort-only passes that actually ran (0 when
      // repeat<3 or the cohort is empty), and `subsecond_cohort` names the
      // queries whose medians mix the full-suite profile with the
      // warm-JVM cohort-only profile (a caveat bench_compare readers need
      // when adjudicating cross-round drift on those queries).
      val cohortJson = cohort.map("\"" + _._1 + "\"").mkString("[", ",", "]")
      java.nio.file.Files.writeString(f.toPath,
        s"""{"sf":"$sfDir","repeat":$repeat,"subsecond_extra_runs":${extraRuns.length},"subsecond_cohort":$cohortJson,"median":$qs,"total_median_sec":$total,"failed_runs":$failedJson,$loadJson,$runsJson,$loadRunsJson}""")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed ($outPath): ${e.getMessage}")
    }
    // stop BEFORE printing: Spark shutdown logs WARNs, and the JSON line
    // must be the last thing on stdout for the driver's parser. A failing
    // shutdown must not cost the run's output — results are already in
    // hand, so swallow and print regardless.
    spark.sparkContext.setLogLevel("ERROR")
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    System.out.flush(); System.err.flush()
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed_runs":$failedJson,$loadJson,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
