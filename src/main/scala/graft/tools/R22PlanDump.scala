package graft.tools

import org.apache.spark.sql.functions._

/** r22 plan evidence for the retract/cascade lake protocol change: the
  * per-batch retract derivation used to read the WHOLE state lake
  * (`snapshot().join(touchedKeys, left_semi)`); it now reads only the
  * buckets the touched keys hash to (`readBuckets(bucketIdsOf(keys))`)
  * and the same pre-mutation read feeds the upsert merge. The stream
  * gates' materialized results can't show these per-batch plans, so this
  * tool reconstructs both shapes against a synthetic 8-bucket lake and
  * prints their formatted plans — the before scan lists every bucket
  * dir, the after scan only the touched ones.
  *
  * Usage: runMain graft.tools.R22PlanDump
  */
object R22PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.EngineSession.create("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("r22-plandump")
    try {
      val lake = new graft.sinks.ParquetUpsertSink(
        root.resolve("state").toString, Seq("cell"), 8)
      // seed: 64 keys so every bucket is populated
      lake.upsert((0 until 64).map(i => (i, i.toLong)).toDF("cell", "dept_cnt"))
      // a batch touching 3 keys (subset of buckets)
      val batch = Seq((1, 10L), (2, 20L), (9, 90L)).toDF("cell", "dept_cnt")
      val touchedKeys = batch.select("cell").distinct()

      println("========== retract_derivation BEFORE (full-lake snapshot) ==========")
      lake.snapshot(spark).join(touchedKeys, Seq("cell"), "left_semi")
        .explain("formatted")

      println("========== retract_derivation AFTER (bucket-pruned read) ==========")
      val bks = lake.bucketIdsOf(touchedKeys)
      println(s"-- touched buckets: ${bks.sorted.mkString(",")} of 8")
      lake.readBuckets(spark, bks, batch.schema)
        .join(touchedKeys, Seq("cell"), "left_semi")
        .explain("formatted")

      // serve-stream lexical query frame: the per-batch subtree BEFORE the
      // pin re-runs the strided corpus tokenize (documents scan + explode);
      // AFTER the serve loop pins it (Similarity.serveEachBatch) the same
      // subtree resolves to the one InMemoryRelation for every batch
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
      import graft.operators.TextAnalysis
      def lexQueries() =
        TextAnalysis.bm25QueriesOf(TextAnalysis.bm25Corpus(spark, dir))
          .join(broadcast(Seq(0L, 20L).toDF("query_id")), Seq("query_id"), "left_semi")
      println("========== serve_lexical_queries BEFORE (per-batch corpus tokenize) ==========")
      lexQueries().explain("formatted")
      TextAnalysis.bm25QueriesOf(TextAnalysis.bm25Corpus(spark, dir)).persist().count()
      println("========== serve_lexical_queries AFTER (one pinned frame per stream) ==========")
      lexQueries().explain("formatted")
    } finally {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally walk.close()
      spark.stop()
    }
  }
}
