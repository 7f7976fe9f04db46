package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's session facade — one call reproduces the reference's whole
  * setup block (TaxiRideQueries.scala:33-48): execution environment,
  * event-time semantics, function registration, and (optionally) source
  * registration.
  *
  * Session policy baked in:
  *  - UTC session timezone (the reference parses all times in UTC via Joda,
  *    TaxiRide.java:41-42; oracle hash-parity depends on it);
  *  - AQE on (runtime coalescing + skew splitting — the default scale
  *    posture; operators that must NOT be coalesced pin partitioning
  *    explicitly, see Dedup.editDistance), plus [[SmallFinalSort]] from
  *    the extensions: a final ORDER BY over small materialized shuffle
  *    stages sorts in one partition, without range partitioning's
  *    sampling job;
  *  - object-hash aggregation headroom for the bounded top-k Aggregator
  *    (sort-based fallback only past 1M groups/task);
  *  - [[GraftExtensions]] injected, so `float_dot` / `rolling_hash` work
  *    from pure SQL and [[SmallFinalSort]] is active in every session
  *    built here;
  *  - artifact isolation off. Every streaming query runs on a clone of its
  *    session, with a new session UUID; with isolation on, each UUID gets
  *    its own executor classloader, and as Spark's codegen cache is keyed
  *    on (classloader, code), every query run (each AvailableNow resume)
  *    compiled all its generated classes again. The engine adds no session
  *    artifacts (jars, files), so there is nothing to isolate;
  *  - the `file:` scheme served by [[LocalFs]], which sets permissions and
  *    reads link status in-process: without the native hadoop library,
  *    Hadoop's own forks a `chmod` or `readlink` process for each, under
  *    every checkpoint log entry, state-store file and lake publish. The
  *    keys take effect when the SparkContext is created.
  */
object EngineSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    // Scale-dependent execution knobs, parameterized via env (optimization
    // guide §2.2/§6: derive partition COUNTS from bytes where possible and
    // keep anything scale-dependent a config, not a constant). Defaults are
    // chosen by A/B measurement at the bench SF and justified for
    // production in OPTIMIZATION_r22.md; a deployment overrides per
    // workload.
    def env(k: String, dflt: String) = sys.env.getOrElse(k, dflt)
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        env("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        env("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64MB"))
      .config("spark.sql.files.minPartitionNum",
        env("SPARK_GRAFT_SCAN_MIN_PARTITIONS", shufflePartitions.toString))
      .config("spark.sql.leafNodeDefaultParallelism",
        env("SPARK_GRAFT_LEAF_PARALLELISM", shufflePartitions.toString))
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config(LocalFs.SparkConf.toMap)
      .withExtensions(new GraftExtensions)
  }

  /** Environment + UDF registration (reference lines :33-43). */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    graft.functions.Taxi.registerAll(spark)
    spark
  }

  /** [[create]] + every testdata table registered as a temp view — the
    * reference's `registerTableSource("rides", ...)` step (:46-48).
    */
  def createWithTables(dir: String, master: String = "local[*]",
                       shufflePartitions: Int = 32): SparkSession = {
    val spark = create(master, shufflePartitions)
    Tables.registerAll(spark, dir)
    spark
  }
}
