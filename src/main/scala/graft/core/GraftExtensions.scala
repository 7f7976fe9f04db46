package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{FloatDotProduct, RollingHash}

/** SparkSessionExtensions entry point: registers the engine's custom
  * codegen expressions as SQL functions, so
  * `spark.sql("SELECT float_dot(a, b)")` works cluster-wide via
  *   spark.sql.extensions=graft.core.GraftExtensions
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`, and adds
  * one AQE query-stage-prep rule, [[SmallFinalSort]]: a query's final
  * ORDER BY over small materialized shuffle stages sorts in one partition
  * instead of paying range partitioning's sampling job.
  * This is the sanctioned seam for engine extensions — no spark-internal
  * patching, survives session cloning, visible to pure-SQL users.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(SmallFinalSort(_))
    ext.injectFunction((
      new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (exprs.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map("functionName" -> "float_dot",
              "expectedNum" -> "2", "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        FloatDotProduct(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (exprs.length != 1)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map("functionName" -> "rolling_hash",
              "expectedNum" -> "1", "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        RollingHash(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("anchored_window_hashes"),
      new ExpressionInfo(classOf[graft.functions.AnchoredWindowHashes].getName,
        "anchored_window_hashes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (exprs.length != 3)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map("functionName" -> "anchored_window_hashes",
              "expectedNum" -> "3", "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        val w = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case e => throw new IllegalArgumentException(s"window must be an int literal, got $e")
        }
        val anchors = exprs(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, _: org.apache.spark.sql.types.StringType) =>
            s.toString
          case e => throw new IllegalArgumentException(s"anchors must be a string literal, got $e")
        }
        graft.functions.AnchoredWindowHashes(exprs.head, w, anchors)
      }))
    // Spark ships Bloom-filter expressions for its runtime join filters but
    // does not register them for SQL. Injecting them here gives the engine
    // an explicit semi-join pre-filter primitive (decontamination & co.)
    // with Spark's own tested implementation — no custom sketch code.
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => exprs match {
        case Seq(child) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(child)
        case Seq(child, items, bits) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(child, items, bits)
        case _ => throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map("functionName" -> "bloom_agg",
            "expectedNum" -> "1 or 3", "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_contains"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (exprs.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map("functionName" -> "bloom_contains",
              "expectedNum" -> "2", "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))
      }))
  }
}
