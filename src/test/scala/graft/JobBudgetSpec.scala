package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec,
  ResultQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import graft.core.Tables

/** The Spark jobs of the reference batch queries, counted with a
  * listener under an engine session (GraftExtensions, and with it
  * [[graft.core.SmallFinalSort]], only exist there):
  *  - building a query runs no job (the load schema comes from the parquet
  *    footer, not from Spark's one-task inference job);
  *  - executing it runs one job per query stage plus the result job, and
  *    one more only where the final sort still range-partitions (its
  *    sampling job);
  *  - the loader's footer schema equals Spark's inferred one.
  */
class JobBudgetSpec extends SparkSpec {

  private val Sf001 = "/root/testdata/sf0.01"

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Shuffle and broadcast stages that ran a job: every stage once,
    * reused ones not, the result stage not (its job is the result job).
    */
  private def stagesRun(p: SparkPlan): Seq[QueryStageExec] = {
    def walk(p: SparkPlan): Seq[QueryStageExec] = p.collect { case s: QueryStageExec => s }
      .flatMap(s => s +: walk(s.plan))
    walk(p).filterNot(s => s.isInstanceOf[ResultQueryStageExec] ||
      s.plan.isInstanceOf[ReusedExchangeExec]).distinctBy(_.id)
  }

  /** Partitioning of the exchange under the final global sort. */
  private def finalSortPartitioning(p: SparkPlan): Partitioning = {
    def sort(p: SparkPlan): SortExec = p match {
      case s: SortExec => s
      case r: ResultQueryStageExec => sort(r.plan)
      case u: UnaryExecNode => sort(u.child)
      case other => fail(s"no final sort:\n$other")
    }
    val s = sort(p)
    assert(s.global, s"final sort is not global:\n$p")
    s.child.collectFirst { case q: ShuffleQueryStageExec => q.shuffle.outputPartitioning }
      .getOrElse(fail(s"final sort reads no shuffle stage:\n$p"))
  }

  /** (jobs, stages that ran, final sort's partitioning) of one collect. */
  private def execute(s: SparkSession, df: DataFrame): (Int, Int, Partitioning) = {
    val jobs = jobsOf(s)(df.collect())
    val p = finalPlan(df)
    (jobs.length, stagesRun(p).length, finalSortPartitioning(p))
  }

  // final sorts over small aggregate / window / session stages sort in one
  // partition; scan-rooted sorts and sorts over a join keep range
  // partitioning and its sampling job
  private val singlePartitionSorts = Set("q1_tumble", "q2_tumble_sql", "q3_over_window",
    "q3_over_recent", "q4_cnt_freq", "q6_sliding", "q7_session")
  private val rangeSorts = Set("src_rides", "q5_geo_hour", "q8_pair_join", "q8_pair_outer")

  test("reference queries: no job at build, no sampling job under a small final sort") {
    assert((singlePartitionSorts ++ rangeSorts).size === 11)
    withEngine { s =>
      (singlePartitionSorts ++ rangeSorts).toSeq.sorted.foreach { name =>
        var df: DataFrame = null
        val built = jobsOf(s) { df = SparkEntry.queries(name)(s, Sf001) }
        assert(built.isEmpty, s"$name ran ${built.length} job(s) at build " +
          s"(${built.flatMap(_.stageInfos.map(_.name)).mkString(", ")})")
        val (jobs, stages, part) = execute(s, df)
        if (singlePartitionSorts(name)) {
          assert(part === SinglePartition, s"$name: final sort kept $part")
          assert(jobs === stages + 1, s"$name: $jobs jobs for $stages stages + the result")
        } else {
          assert(part.isInstanceOf[RangePartitioning], s"$name: final sort got $part")
          // the range partitioner's sampling job is the one extra
          assert(jobs === stages + 2, s"$name: $jobs jobs for $stages stages + sample + result")
        }
      }
    }
  }

  test("a final sort past the one-partition size bound keeps range partitioning") {
    withEngine { s =>
      def sortedCounts(n: Long): DataFrame = s.range(0, n, 1, 4)
        .groupBy((col("id") * 7 % n).as("k")).count().orderBy("k")
      // ~16 bytes a row of shuffled partial aggregates: well under and
      // well over coalescing's 1 MB minimum partition size
      val (smallJobs, smallStages, small) = execute(s, sortedCounts(4000))
      assert(small === SinglePartition)
      assert(smallJobs === smallStages + 1)
      val big = sortedCounts(400000)
      val (jobs, stages, part) = execute(s, big)
      assert(part.isInstanceOf[RangePartitioning], s"sort over ~6 MB got $part")
      assert(jobs === stages + 2)
      // row order is the sort's either way
      assert(big.collect().map(_.getLong(0)).toSeq === (0L until 400000L))
    }
  }

  test("a final sort over a join, a Generate or a scan keeps range partitioning") {
    withEngine { s =>
      // a sort-merge join: both its inputs are small materialized shuffle
      // stages, so only the join itself keeps the range partitioning
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = s.range(0, 1000, 1, 4).groupBy((col("id") % 50).as("k")).count()
      val b = s.range(0, 1000, 1, 4).groupBy((col("id") % 70).as("k")).agg(max("id").as("m"))
      val joined = a.join(b, "k").orderBy("k")
      assert(execute(s, joined)._3.isInstanceOf[RangePartitioning])
      assert(joined.collect().map(_.getLong(0)).toSeq === (0L until 50L))
      val exploded = a.select(col("k"), explode(array(col("count"), col("k"))).as("x"))
        .orderBy("k", "x")
      assert(execute(s, exploded)._3.isInstanceOf[RangePartitioning])
      val scan = Tables.load(s, Sf001, "region").orderBy(desc("r_regionkey"))
      assert(execute(s, scan)._3.isInstanceOf[RangePartitioning])
    }
  }

  test("footer schema equals Spark's inferred schema for every table and both ts encodings") {
    Tables.all.foreach { t =>
      val path = s"$Sf001/$t.parquet"
      assert(Tables.declared(spark, path).schema === spark.read.parquet(path).schema, t)
    }
    val us = getClass.getResource("/graft/testdata/enc_us").getPath + "/events.parquet"
    assert(Tables.declared(spark, us).schema === spark.read.parquet(us).schema)
    // the legacy NANOS file reads only under nanosAsLong, which the
    // converter honors like inference does
    val nanos = getClass.getResource("/graft/testdata/enc_nanos").getPath + "/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try assert(Tables.declared(spark, nanos).schema === spark.read.parquet(nanos).schema)
    finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
  }
}
