package graft.core

import org.apache.spark.sql.SparkSession

/** The FIT/APPLY persistence discipline shared by the trained-model
  * families (BPE merges, Naive-Bayes weights, k-means centroids, PQ
  * codebooks, and the bucketed layouts in Relational/Similarity): a
  * model table is keyed on its
  * source dir AND a model fingerprint via the `graft.src` table property,
  * rebuilt only when stale, and re-used by every later apply — training
  * cost is paid once per (source, model) pair, which is the entire point
  * at 100 TB.
  */
object ModelTables {

  /** The stored staleness key: source dir, the model fingerprint
    * (hyperparameters + learner version), and a CONTENT fingerprint of
    * the source dir. Changing any of the three against an existing
    * warehouse forces a rebuild. Dir and params are length-prefixed so
    * the encoding is injective — a bare `dir#params` join would let a
    * dir literally containing '#' (or params containing the fingerprint
    * separator) collide with a different (dir, params) pair and
    * spuriously report the table as current.
    */
  private def srcKey(spark: SparkSession, dir: String, params: String): String =
    s"${dir.length}:$dir#${params.length}:$params@${contentFingerprint(spark, dir)}"

  /** Cheap content fingerprint of the source dir: md5 over the sorted
    * recursive listing of (path, length, mtime). Dir identity is NOT
    * data identity — a dir rewritten in place (Stress20x regenerates
    * /tmp/graft20x between runs) must invalidate models trained on the
    * old bytes, or a later "cold" run silently serves centroids/weights
    * fit on data that no longer exists. No data read; on a real
    * warehouse the table format's snapshot id plays this role, and the
    * filesystem's (name, size, mtime) is the stand-in — Spark's
    * overwrite writes fresh part-file names, so any rewrite changes the
    * digest even within mtime granularity (see the SPARK-WRITTEN DIRS
    * note on [[isCurrent]]).
    *
    * Cost: the recursive walk is memoized per dir, guarded by a
    * bounded-depth listing (the dir root plus one level into any root
    * subdirectory). A dir's mtime only changes when its DIRECT children
    * change, so a root-only guard would miss a rewrite two levels down
    * (nested partitionBy with dynamic partition overwrite replacing a
    * leaf dir) and serve a stale fingerprint; listing one level deeper
    * covers single-level partition layouts exactly. If the guard walk
    * finds directories nested deeper than that (level-2 dirs), the memo
    * is SKIPPED for this dir — every probe pays the full recursive walk,
    * trading steady-state cost for correctness on multi-level
    * partitioned sources. Unchanged flat or single-level-partitioned
    * dirs re-probe with O(root + partitions) metadata calls instead of
    * O(files), which is what every apply-path staleness check does in
    * steady state.
    *
    * A MISSING dir fingerprints as a constant (synthetic staleness-key
    * tests use keys like "d#p" that never resolve to a path). An
    * UNREADABLE dir (listing threw) fingerprints as a UNIQUE sentinel:
    * it never equals any stored or future key, so a model stamped while
    * its source was unlistable is never served as current — the safe
    * failure mode is an always-rebuild, not a silently-stale model.
    */
  private val fpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private val unreadableSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private def md5(entries: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private def contentFingerprint(spark: SparkSession, dir: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) "absent"
      else {
        // Guard listing: root entries plus one level into root subdirs.
        // memoizable stays true only while no level-2 directory is seen.
        val root = fs.listStatus(p).toSeq
        val guardEntries = scala.collection.mutable.ArrayBuffer.empty[String]
        var memoizable = true
        root.foreach { s =>
          guardEntries += s"${s.getPath}:${s.getLen}:${s.getModificationTime}"
          if (s.isDirectory) {
            fs.listStatus(s.getPath).foreach { c =>
              guardEntries += s"${c.getPath}:${c.getLen}:${c.getModificationTime}"
              if (c.isDirectory) memoizable = false
            }
          }
        }
        val rootGuard = md5(guardEntries.toSeq)
        val cached = if (memoizable) fpMemo.get(dir) else null
        if (cached != null && cached._1 == rootGuard) cached._2
        else {
          val it = fs.listFiles(p, true)
          val entries = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val f = it.next()
            entries += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
          }
          val fp = md5(entries.toSeq)
          if (memoizable) fpMemo.put(dir, (rootGuard, fp)) else fpMemo.remove(dir)
          fp
        }
      }
    } catch {
      case _: Exception => s"unreadable#${unreadableSeq.incrementAndGet()}"
    }

  /** Managed tables live at <warehouse>/<table>; that equation only holds
    * for simple lowercase names in the default database, so the writers
    * refuse anything else rather than deleting the wrong path.
    */
  private def requireSimpleName(table: String): Unit =
    require(table.matches("[a-z][a-z0-9_]*"),
      s"model table must be a simple lowercase name in the default database, got '$table'")

  private def isCurrentKey(spark: SparkSession, table: String, key: String): Boolean =
    spark.catalog.tableExists(table) &&
      (try spark.sql(s"SHOW TBLPROPERTIES $table ('graft.src')")
        .collect().headOption.exists(_.getString(1) == key)
      catch { case _: Exception => false })

  /** True when `table` exists and was built from `dir`'s CURRENT content
    * with the same model fingerprint.
    *
    * SPARK-WRITTEN DIRS ONLY: content currency is judged from the
    * (path, length, mtime) listing, which reliably detects Spark-style
    * rewrites (fresh part-file names every overwrite). A non-Spark
    * in-place rewrite that preserves file names and sizes within mtime
    * granularity (`cp -p`, same-size byte edits) is NOT detected — if a
    * source dir is maintained by such a tool, bump `params` on rewrite
    * or use a snapshot-id-bearing table format instead.
    */
  def isCurrent(spark: SparkSession, table: String, dir: String,
      params: String = ""): Boolean =
    isCurrentKey(spark, table, srcKey(spark, dir, params))

  /** Drop `table` from BOTH catalog layers: a fresh session's in-memory
    * catalog doesn't know a previous session's table, and saveAsTable
    * refuses its orphaned warehouse dir (LOCATION_ALREADY_EXISTS).
    */
  private[graft] def dropBothLayers(spark: SparkSession, table: String): Unit = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    fs.delete(new org.apache.hadoop.fs.Path(wh, table), true)
    ()
  }

  private def stamp(spark: SparkSession, table: String, key: String): Unit = {
    // single quotes in dir would break the literal; isCurrent compares the
    // RAW key, so escaping only the write side is safe
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('graft.src' = '${key.replace("'", "''")}')")
    ()
  }

  /** Run `write` (which must saveAsTable `table`) unless the stored model
    * is already current, then stamp the source property. Same
    * SPARK-WRITTEN DIRS ONLY caveat as [[isCurrent]].
    */
  def persistIfStale(spark: SparkSession, dir: String, table: String,
      params: String = "")(write: => Unit): Unit =
    persistGroupIfStale(spark, dir, params)(table -> (() => write))

  /** The multi-table form for models whose halves must encode ONE corpus
    * snapshot (NB weights + base terms): if ANY listed table is stale,
    * ALL are dropped and rebuilt, and stamps are applied only after
    * every write succeeded — a failure mid-group leaves every table
    * unstamped, so the next call rebuilds the whole group instead of
    * pairing fresh weights with stale statistics. The staleness key
    * (including the dir listing) is computed once for the group. Same
    * SPARK-WRITTEN DIRS ONLY caveat as [[isCurrent]].
    */
  def persistGroupIfStale(spark: SparkSession, dir: String, params: String = "")
      (writes: (String, () => Unit)*): Unit =
    persistGroupMutatedIfStale(spark, dir, params)(writes: _*)(() => ())

  /** [[persistGroupIfStale]] for groups whose steady state is a MUTATION
    * of the built tables (the right-to-be-forgotten indexes: build from
    * the full corpus, then rewrite the forgotten rows out). `mutate` runs
    * after every build succeeded and may drop + recreate the tables
    * (anti-join rewrites do); the stamps are applied LAST, to the mutated
    * tables — so a current group skips both the build and the mutation,
    * and a crash anywhere before the final stamp (mid-build, mid-rewrite)
    * leaves at least one table unstamped and forces a full
    * build-then-mutate on the next call instead of serving a
    * half-forgotten index. The mutation must be idempotent over its own
    * output (an anti-join of already-absent keys is), which every retry
    * path here relies on.
    */
  def persistGroupMutatedIfStale(spark: SparkSession, dir: String,
      params: String = "")(writes: (String, () => Unit)*)(
      mutate: () => Unit): Unit = {
    writes.foreach { case (table, _) => requireSimpleName(table) }
    val key = srcKey(spark, dir, params)
    if (writes.forall { case (table, _) => isCurrentKey(spark, table, key) }) return
    writes.foreach { case (table, _) => dropBothLayers(spark, table) }
    writes.foreach { case (_, write) => write() }
    mutate()
    writes.foreach { case (table, _) => stamp(spark, table, key) }
  }
}
