package graft

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import graft.core.{Commit, Generations}

/** The one commit module's crash contracts, pinned on filesystems that
  * misbehave on purpose: a rename with HDFS semantics (false when the
  * destination exists, where the local filesystem overwrites a file or
  * nests a directory), and a create whose stream dies mid-write.
  */
class CommitSpec extends SparkSpec {

  /** Local filesystem with HDFS rename semantics and an injectable
    * write failure after `failAfter` bytes (negative: never).
    */
  private class StrictFs extends RawLocalFileSystem {
    @volatile var failAfter: Int = -1
    override def rename(src: Path, dst: Path): Boolean =
      !exists(dst) && super.rename(src, dst)
    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      val out = super.create(f, overwrite, bufferSize, replication, blockSize,
        progress)
      val limit = failAfter
      if (limit < 0) out
      else new FSDataOutputStream(new java.io.OutputStream {
        private var n = 0
        override def write(b: Int): Unit = {
          if (n >= limit) throw new java.io.IOException("injected write failure")
          out.write(b); n += 1
        }
        override def close(): Unit = out.close()
      }, null)
    }
  }

  private def strictFs(): StrictFs = {
    val fs = new StrictFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private def tempRoot(name: String): Path =
    new Path(Files.createTempDirectory(name).toString)

  private def names(fs: StrictFs, dir: Path): Set[String] =
    fs.listStatus(dir).map(_.getPath.getName).toSet

  test("a publish onto an existing dest fails loudly; the next sweep drops its tmp") {
    val fs = strictFs()
    val gs = Generations(fs, tempRoot("commit-gen"), "g=")
    def fill(text: String)(tmp: Path): Unit = {
      val out = fs.create(new Path(tmp, "part"), true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    gs.publish(0L)(fill("first"))
    val e = intercept[java.io.IOException](gs.publish(0L)(fill("second")))
    assert(e.getMessage.contains("dest already present"), e.getMessage)
    assert(names(fs, gs.root) === Set("g=0", ".tmp-g-0"))
    assert(gs.current === 0L, "the leftover tmp must not read as a generation")
    gs.publish(1L)(fill("third"))
    gs.sweepBelow(0L)()
    assert(names(fs, gs.root) === Set("g=0", "g=1"), "the sweep must drop the tmp leftover")
    val in = fs.open(new Path(gs.path(0L), "part"))
    try assert(scala.io.Source.fromInputStream(in, "UTF-8").mkString === "first")
    finally in.close()
  }

  test("writeFile never exposes a partial file under dest") {
    val fs = strictFs()
    val root = tempRoot("commit-file")
    val (tmp, dest) = (new Path(root, ".tmp-MANIFEST"), new Path(root, "MANIFEST"))
    val text = "bm25\ndedup\nivf\n"
    fs.failAfter = 6
    intercept[java.io.IOException](Commit.writeFile(fs, tmp, dest, text))
    assert(!fs.exists(dest), "a torn write must leave dest absent")
    fs.failAfter = -1
    Commit.writeFile(fs, tmp, dest, text) // the retry overwrites the torn tmp
    assert(names(fs, root) === Set("MANIFEST"))
    val in = fs.open(dest)
    try assert(scala.io.Source.fromInputStream(in, "UTF-8").mkString === text)
    finally in.close()
  }

  test("swapTable's promote guard completes a swap torn between drop and rename") {
    import spark.implicits._
    val t = "cspec_swap"
    dropTables(t, t + "_compact_tmp")
    try {
      // the crash window: the finished temp exists, the live table is gone
      Seq(1L, 2L).toDF("x").write.saveAsTable(t + "_compact_tmp")
      // the write reads the live table, which exists only once the guard
      // has promoted the temp
      Commit.swapTable(spark, t)(tmp =>
        spark.table(t).union(Seq(3L).toDF("x")).write.saveAsTable(tmp))
      assert(spark.table(t).as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
      assert(!spark.catalog.tableExists(t + "_compact_tmp"))
    } finally dropTables(t, t + "_compact_tmp")
  }
}
