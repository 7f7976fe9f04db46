package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (/root/repo/TESTDATA.md).
  * Mirrors the reference's catalog-registration step
  * (TaxiRideQueries.scala:46-48): each table is exposed both as a DataFrame
  * and as a temp view for `spark.sql`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") events(spark, dir)
    else declared(spark, s"$dir/$name.parquet")
  }

  /** events.parquet's `ts` physical encoding has drifted across testdata
    * generations (INT64 TIMESTAMP(NANOS) originally; plain timestamp[us]
    * since Aug 2026), so branch on the schema Spark actually reads instead
    * of assuming one encoding:
    *   - LongType (nanosAsLong fallback for TIMESTAMP(NANOS), which the
    *     reader otherwise rejects): truncate ns -> us with integer `div`,
    *     not `/` — ns-since-epoch (~1.7e18) exceeds double's 2^53
    *     exact-integer range, so float division would corrupt low digits.
    *     Floor matches DuckDB's ns->us truncation of the same file.
    *   - TimestampNTZType (timestamp[us], isAdjustedToUTC=false): cast to
    *     TimestampType; with spark.sql.session.timeZone=UTC (EngineSession)
    *     the wall clock is reinterpreted as a UTC instant, matching
    *     DuckDB's naive read.
    *   - TimestampType (timestamp[us] adjusted to UTC): pass through.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$dir/events.parquet"
    // PER-FILE discriminator: classify ts by the parquet footers' logical
    // type annotation instead of session-conf state. The previous
    // fallback-fired heuristic had a documented hole — once the
    // nanosAsLong conf was set by one legacy read, a later PLAIN-INT64
    // file in the same session read as LongType without any exception and
    // was silently mis-scaled 1000x by the div-1000 branch. Footers are
    // ground truth per file, so the refusal no longer depends on what was
    // read earlier in the session. Every call opens every footer again.
    val footers = dataFiles(spark, path).map(footer(spark, _))
    val kinds = footers.map(tsKind).toSet
    if (kinds.contains("PLAIN_INT64")) throw new IllegalStateException(
      s"$path: ts stored as PLAIN INT64 (no timestamp annotation) — " +
        "unknown epoch unit, refusing to guess a divisor")
    if (kinds.size > 1) throw new IllegalStateException(
      s"$path: mixed ts encodings across files ($kinds) — one generation " +
        "per directory is the loader's contract")
    if (kinds == Set("NANOS"))
      // Legacy TIMESTAMP(NANOS) file, which the reader otherwise rejects.
      // The conf must be a *session* conf: executor-side footer conversion
      // re-reads it at scan time, after this method returns (the DataFrame
      // is lazy), so a scoped set/restore or a per-read option cannot
      // work. Leaving it set is benign — it only changes how
      // TIMESTAMP(NANOS) columns are read, no other testdata table has
      // one, and the footer check above refuses plain INT64 regardless.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // after the conf set: the schema converter reads nanosAsLong
    val df = readDeclared(spark, Seq(path), footers.headOption)
    df.schema("ts").dataType match {
      case LongType if kinds == Set("NANOS") =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case LongType => throw new IllegalStateException(
        s"$path: ts read as plain INT64 but footers say $kinds — " +
          "unknown epoch unit, refusing to guess a divisor")
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"$path: unsupported physical type for ts: $other " +
          "(expected INT64 TIMESTAMP(NANOS), timestamp[us] NTZ, or timestamp[us] UTC)")
    }
  }

  /** `paths` (parquet files or directory trees) read with the schema the
    * first data file's footer declares, converted by Spark's own
    * footer-to-schema converter under the session's parquet confs — the
    * schema `spark.read.parquet` would infer without schema merging, minus
    * the one-task Spark job that inference runs to open that same footer.
    * Nothing is cached: each call lists and opens the footer again. Paths
    * with no data file are read undeclared, so they fail with Spark's own
    * error.
    */
  private[graft] def declared(spark: SparkSession, paths: String*): DataFrame =
    readDeclared(spark, paths,
      paths.iterator.flatMap(dataFiles(spark, _)).nextOption().map(footer(spark, _)))

  private def readDeclared(spark: SparkSession, paths: Seq[String],
      first: Option[org.apache.parquet.hadoop.Footer]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    first match {
      case Some(f) =>
        val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(f, converter)).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Data files under `path` (a file or a directory tree; `_`/`.`-prefixed
    * names skipped, as Spark's file index skips them), sorted by path;
    * empty when `path` does not exist. Driver-side listing — the same
    * O(files) cost Spark's own scan planning pays.
    */
  private def dataFiles(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[Path] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq
          .filterNot(s => s.getPath.getName.startsWith("_") ||
            s.getPath.getName.startsWith("."))
          .flatMap(s => walk(s.getPath))
      else Seq(p)
    if (fs.exists(root)) walk(root).sortBy(_.toString) else Nil
  }

  /** One data file's parquet footer, read on the driver. */
  private def footer(spark: SparkSession,
      file: org.apache.hadoop.fs.Path): org.apache.parquet.hadoop.Footer = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try new org.apache.parquet.hadoop.Footer(file, r.getFooter) finally r.close()
  }

  /** The ts column's parquet encoding in one footer:
    * `"NANOS"`/`"MICROS"`/`"MILLIS"` for INT64 timestamp annotations,
    * `"PLAIN_INT64"` for an unannotated INT64 (the encoding the loader
    * must refuse — no epoch unit recorded), the primitive name otherwise,
    * `"absent"` when the file has no ts. A catalog-backed deployment would
    * read this from table metadata instead.
    */
  private def tsKind(f: org.apache.parquet.hadoop.Footer): String = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val schema = f.getParquetMetadata.getFileMetaData.getSchema
    if (!schema.containsField("ts")) "absent"
    else {
      val t = schema.getType(Seq("ts"): _*)
      if (!t.isPrimitive) "group"
      else {
        val prim = t.asPrimitiveType()
        (prim.getPrimitiveTypeName.toString, prim.getLogicalTypeAnnotation) match {
          case ("INT64", ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
            ts.getUnit.toString
          case ("INT64", null) => "PLAIN_INT64"
          case (p2, _) => p2: String
        }
      }
    }
  }

  /** Register every table of `dir` as a temp view (idempotent, lazy scans). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** The columns (post-load) each operator family actually depends on —
    * the loader's contract with the testdata generation. Deliberately a
    * SUBSET per table: extra columns are fine, missing/renamed/retyped
    * ones are the drift class that round 12 hit (the regenerated
    * `events.parquet` changed `ts`'s physical encoding and 34 queries
    * died with opaque analysis errors).
    */
  private val expected: Map[String, Map[String, String]] = Map(
    "region" -> Map("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Map("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Map("c_custkey" -> "bigint", "c_nationkey" -> "int",
      "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Map("s_suppkey" -> "bigint", "s_nationkey" -> "int"),
    "part" -> Map("p_partkey" -> "bigint", "p_type" -> "string"),
    "orders" -> Map("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderdate" -> "timestamp_ntz", "o_totalprice" -> "double"),
    "lineitem" -> Map("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double",
      "l_shipdate" -> "timestamp_ntz", "l_returnflag" -> "string"),
    // ts is the POST-LOAD type: events() normalizes every physical
    // encoding to a session-zone TimestampType column
    "events" -> Map("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string", "value" -> "double"),
    "documents" -> Map("doc_id" -> "bigint", "text" -> "string",
      "source" -> "string"),
    "embeddings" -> Map("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"))

  /** Preflight: diff every table's LOADED schema against [[expected]] and
    * return one named problem line per mismatch (empty = clean). Run by
    * Verify before the dump so schema drift in the testdata surfaces as
    * `preflight: events.ts expected timestamp, got X` instead of dozens
    * of opaque per-query analysis errors.
    */
  def preflight(spark: SparkSession, dir: String): Seq[String] =
    all.flatMap { name =>
      // Registry lookup OUTSIDE the load's try: a table listed in `all` but
      // absent from `expected` is a code-level map omission and must say so,
      // not masquerade as "failed to load: key not found".
      expected.get(name) match {
        case None => Seq(s"preflight: no expected schema registered for $name")
        case Some(want_) =>
          try {
            val schema = load(spark, dir, name).schema
            val have = schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
            want_.toSeq.sorted.flatMap { case (col, want) =>
              have.get(col) match {
                case None => Seq(s"preflight: $name.$col missing (have: ${schema.fieldNames.mkString(", ")})")
                case Some(got) if got != want => Seq(s"preflight: $name.$col expected $want, got $got")
                case _ => Nil
              }
            }
          } catch {
            case e: Exception => Seq(s"preflight: $name failed to load: ${e.getMessage}")
          }
      }
    }
}
