package graft.core

import scala.annotation.tailrec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, ExpandExec, GenerateExec, SortExec,
  SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage-prep rule: a query's final global sort over a small,
  * already-materialized input sorts in ONE partition instead of through
  * Spark's range partitioning.
  *
  * A range exchange first runs a sampling job (`RangePartitioner`'s
  * sketch), which computes the exchange's child in full, and then computes
  * it again to write the shuffle. When that child reads only small
  * materialized shuffle stages, AQE coalesces the range exchange's output
  * into one partition anyway, so the sample buys nothing: this rule
  * replaces the exchange's `RangePartitioning` with `SinglePartition`,
  * which needs no sample. Row order is unchanged — the sort above the
  * exchange orders the one partition by the same keys.
  *
  * It fires only when all of these hold for the exchange under the final
  * global sort (reached from the plan root through unary nodes):
  *  - every leaf below it is a materialized shuffle query stage (so a sort
  *    straight over a scan, and the initial plan before any stage ran,
  *    keep range partitioning);
  *  - no join, Expand or Generate (the nodes that can multiply rows) sits
  *    between those stages and the exchange, and no other exchange does;
  *  - the stages' total map-output bytes fit the size at which AQE's own
  *    partition coalescing packs data into one partition under the
  *    session's confs ([[fitsOnePartition]]).
  *
  * The rule reads only existing AQE confs and adds none. AQE alone runs
  * stage-prep rules, and with its partition coalescing off the rule does
  * nothing.
  */
case class SmallFinalSort(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val conf = session.sessionState.conf
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else finalSortExchange(plan) match {
      case Some(ex) if materializedBytes(ex.child).exists(fitsOnePartition(conf, _)) =>
        plan.transformUp { case e: ShuffleExchangeExec if e eq ex =>
          e.copy(outputPartitioning = SinglePartition)
        }
      case _ => plan
    }
  }

  /** The range exchange right under the first sort below the root, if
    * that sort is global and only unary nodes lie above it.
    */
  @tailrec private def finalSortExchange(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
    case SortExec(_, true, ex @ ShuffleExchangeExec(_: RangePartitioning, _, _, _), _) => Some(ex)
    case _: SortExec | _: Exchange => None
    case u: UnaryExecNode => finalSortExchange(u.child)
    case _ => None
  }

  /** Total map-output bytes of the materialized shuffle stages that are
    * the only leaves of `p`; None when any leaf is something else or a
    * row-multiplying node or another exchange lies on the way.
    */
  private def materializedBytes(p: SparkPlan): Option[Long] = p match {
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      Some(s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L))
    // every join is a binary node
    case _: QueryStageExec | _: Exchange | _: BinaryExecNode | _: ExpandExec |
         _: GenerateExec => None
    case _ if p.children.isEmpty => None
    case _ =>
      val sizes = p.children.map(materializedBytes)
      if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
  }

  /** Would AQE's coalescing pack `bytes` of shuffle data into one
    * partition? The target size is the one `CoalesceShufflePartitions`
    * computes: the total split over the minimum partition count (the
    * default parallelism when `parallelismFirst` is on), capped by the
    * advisory size, and at least `coalescePartitions.minPartitionSize`.
    */
  private def fitsOnePartition(conf: SQLConf, bytes: Long): Boolean = {
    val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        session.sparkContext.defaultParallelism
      else 1)
    val target = math.max(
      math.min(math.ceil(bytes.toDouble / math.max(minPartitions, 1)).toLong,
        conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)),
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    bytes <= target
  }
}
