package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit protocols every lake and index mutation goes through, each
  * decided once. Crash contracts — a crash at any step leaves the previous
  * state or the new one readable, and the next call converges:
  *
  *  - [[Commit.rename]] / [[Commit.writeFile]]: content is complete under a
  *    temp name before one checked rename exposes it. A rename that returns
  *    false fails loudly even if `dest` then exists: where rename degrades
  *    to a copy, that dest may be partial. Callers test that `dest` is
  *    absent before they write.
  *  - [[DirPublish]]: the live dir renames ASIDE to `.bak-` before the new
  *    dir renames in, and readers fall back to the bak while the live dir
  *    is missing, so one complete copy always exists.
  *  - [[Commit.swapTable]]: a catalog table is replaced through
  *    `<table>_compact_tmp`; a crash between DROP and RENAME leaves the
  *    finished temp, which the promote guard renames in on the next call.
  *  - [[Generations]]: numbered immutable generations under one root, the
  *    max id live, each published by one marker create or one tmp-dir
  *    rename. A torn publish leaves a `.tmp-` dir (or data without its
  *    marker) that readers never see. The sweep drops a generation's data
  *    before its marker, so a crash mid-sweep is retried by the next one.
  */
object Commit {

  def rename(fs: FileSystem, tmp: Path, dest: Path): Unit =
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"publish failed: $tmp -> $dest" +
        (if (fs.exists(dest)) " (dest already present: a partial copy?)" else ""))

  def writeFile(fs: FileSystem, tmp: Path, dest: Path, text: String): Unit = {
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    rename(fs, tmp, dest)
  }

  private def tmpTable(table: String): String = table + "_compact_tmp"

  /** The guard: live table gone and temp present means a torn swap. */
  def promoteTorn(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    def exists(t: String) = catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    if (!exists(table) && exists(tmpTable(table)))
      spark.sql(s"ALTER TABLE ${tmpTable(table)} RENAME TO $table")
    ()
  }

  /** Replace `table` with what `write` saves under the temp name it is
    * given (`write` runs before the drop, so it may read the live table).
    * The refresh drops the old generation's cached file listing.
    */
  def swapTable(spark: SparkSession, table: String)(write: String => Unit): Unit = {
    val tmp = tmpTable(table)
    promoteTorn(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    write(tmp)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.catalog.refreshTable(table)
  }
}

/** Crash-safe replacement of a live directory, shared by the upsert sink
  * and compaction so their recovery semantics cannot drift.
  */
private[graft] object DirPublish {

  def bakOf(dir: Path): Path = new Path(dir.getParent, s".bak-${dir.getName}")
  def tmpOf(dir: Path): Path = new Path(dir.getParent, s".tmp-${dir.getName}")

  /** The live dir, or the bak a crashed publish left behind. */
  def readable(fs: FileSystem, dir: Path): Option[Path] = {
    val bak = bakOf(dir)
    if (fs.exists(dir)) Some(dir) else if (fs.exists(bak)) Some(bak) else None
  }

  def publish(fs: FileSystem, tmp: Path, dir: Path): Unit = {
    val bak = bakOf(dir)
    if (fs.exists(dir)) {
      if (fs.exists(bak)) fs.delete(bak, true)
      Commit.rename(fs, dir, bak)
    }
    Commit.rename(fs, tmp, dir)
    fs.delete(bak, true)
    ()
  }

  /** Rename a crashed publish's bak back to live; false if neither exists. */
  def restore(fs: FileSystem, dir: Path): Boolean = readable(fs, dir) match {
    case Some(bak) if bak != dir => Commit.rename(fs, bak, dir); true
    case found => found.isDefined
  }
}

/** Generations `<prefix>N` under `root`, the max id live: marker files
  * (the data lives elsewhere, e.g. catalog tables) or published dirs.
  */
final case class Generations(fs: FileSystem, root: Path, prefix: String) {

  def path(id: Long): Path = new Path(root, s"$prefix$id")

  private def names: Seq[String] =
    if (!fs.exists(root)) Seq.empty else fs.listStatus(root).toSeq.map(_.getPath.getName)

  private def idOf(name: String): Option[Long] =
    if (name.startsWith(prefix)) Some(name.stripPrefix(prefix).toLong) else None

  def ids: Seq[Long] = names.flatMap(idOf)

  def latest: Option[Long] = ids.maxOption

  def current: Long = latest.getOrElse(Generations.nothingPublished(root))

  def mark(id: Long): Unit = fs.create(path(id), true).close()

  /** `write` fills the temp dir it is given; one rename publishes it. */
  def publish(id: Long)(write: Path => Unit): Unit = {
    val tmp = new Path(root, s".tmp-${prefix.stripSuffix("=")}-$id")
    write(tmp)
    Commit.rename(fs, tmp, path(id))
  }

  /** Drop every id below `floor` (`onDrop`, then its marker or dir) and
    * every `.tmp-` leftover.
    */
  def sweepBelow(floor: Long)(onDrop: Long => Unit = _ => ()): Unit = {
    val listed = names
    listed.flatMap(idOf).filter(_ < floor).sorted.foreach { id =>
      onDrop(id)
      fs.delete(path(id), true)
    }
    listed.filter(_.startsWith(".tmp-")).foreach(n => fs.delete(new Path(root, n), true))
  }
}

object Generations {
  def nothingPublished(root: Path): Nothing =
    throw new IllegalStateException(s"nothing published under $root")
}
