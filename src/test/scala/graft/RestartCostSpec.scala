package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.core.LocalFs
import graft.sinks.ParquetUpsertSink
import graft.sources.Rides
import graft.streaming.{CascadeQ4, StreamingQueries}

/** The fixed cost every streaming query run pays, whatever its data, held
  * at zero under an engine session:
  *  - a resume compiles no generated class (artifact isolation off, so
  *    the codegen cache is shared across the session clones that queries
  *    run on);
  *  - a batch forks no `chmod` or `readlink` ([[LocalFs]]), and that
  *    filesystem answers as Hadoop's own.
  */
class RestartCostSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def assertEngineFs(s: SparkSession): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, conf).getClass === classOf[LocalFs.FileSystemImpl])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ===
      classOf[LocalFs.ContextImpl])
  }

  /** The perfbench cascade op: land one chunk of rides in the watched dir,
    * resume the AvailableNow cascade from its checkpoint.
    */
  private class Cascade(s: SparkSession) {
    private val dir = Files.createTempDirectory("restart")
    private val chunks = Files.createDirectory(dir.resolve("chunks"))
    private val watch = Files.createDirectory(dir.resolve("watch"))
    FixtureGen.writeChunks(chunks, FixtureGen.events(1200), 4)
    private val pending = Files.list(chunks).iterator().asScala.toList.sortBy(_.toString).iterator
    private val lake = new ParquetUpsertSink(dir.resolve("lake").toString, Seq("dept_cnt"), 4)

    def landAndRun(): Long = {
      val c = pending.next()
      Files.move(c, watch.resolve(c.getFileName), StandardCopyOption.ATOMIC_MOVE)
      val q = CascadeQ4.startToParquetFrom(
        StreamingQueries.q4Level1(Rides.streamFromCsv(s, watch.toString)),
        lake, dir.resolve("checkpoint").toString)
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
  }

  test("a cascade resume compiles no class the previous resume compiled") {
    withEngine { s =>
      assertEngineFs(s)
      val c = new Cascade(s)
      c.landAndRun() // creates the checkpoint and both lakes
      c.landAndRun() // the steady-state path, first time
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(c.landAndRun() > 0)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled === 0L, s"the resume compiled $compiled generated classes")
    }
  }

  test("a cascade batch forks no chmod or readlink") {
    withEngine { s =>
      assertEngineFs(s)
      val c = new Cascade(s)
      c.landAndRun()
      val rec = new Recording()
      rec.enable("jdk.ProcessStart").withThreshold(java.time.Duration.ZERO)
      val dump = Files.createTempFile("forks", ".jfr")
      val rows = try {
        rec.start()
        try c.landAndRun() finally rec.stop()
      } finally {
        rec.dump(dump)
        rec.close()
      }
      assert(rows > 0)
      val forks = RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).filter { cmd =>
          val exe = cmd.trim.split("\\s+").head
          Set("chmod", "readlink")(exe.substring(exe.lastIndexOf('/') + 1))
        }
      assert(forks.size === 0, s"first: ${forks.take(3).mkString("; ")}")
    }
  }

  test("the fork-free filesystem answers as Hadoop's own, and still writes checksums") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem
    val ours = new LocalFs.Raw
    stock.initialize(root, conf)
    ours.initialize(root, conf)
    val dir = Files.createTempDirectory("localfs")

    Seq("644", "755", "600", "444").foreach { mode =>
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val (a, b) = (Files.createFile(dir.resolve(s"stock-$mode")), Files.createFile(dir.resolve(s"ours-$mode")))
      stock.setPermission(new Path(a.toUri), perm)
      ours.setPermission(new Path(b.toUri), perm)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(b)) === perm.toString, mode)
      assert(Files.getPosixFilePermissions(a) === Files.getPosixFilePermissions(b), mode)
    }

    val file = Files.writeString(dir.resolve("f"), "x")
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def seen(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.getLen, st.getModificationTime)
    // the file:-qualified form Spark passes, and the bare form
    def forms(p: JPath) = Seq(new Path(p.toUri), new Path(p.toString))
    for (p <- Seq(file, sub, link); hp <- forms(p))
      assert(seen(ours.getFileLinkStatus(hp)) === seen(stock.getFileLinkStatus(hp)), hp)
    assert(forms(link).exists(hp => stock.getFileLinkStatus(hp).isSymlink),
      "fixture vacuous: no form of the link reads as a link")
    for (hp <- forms(dir.resolve("missing"))) {
      intercept[FileNotFoundException](stock.getFileLinkStatus(hp))
      intercept[FileNotFoundException](ours.getFileLinkStatus(hp))
    }

    // the installed forms keep Hadoop's .crc checksums, written and verified
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(root, hconf)
    assert(fs.getClass === classOf[LocalFs.FileSystemImpl])
    val c = new Path(dir.resolve("c").toUri)
    val out = fs.create(c)
    try out.write("checksummed".getBytes("UTF-8")) finally out.close()
    assert(Files.exists(dir.resolve(".c.crc")))
    Files.writeString(dir.resolve("c"), "CHECKSUMMED")
    intercept[ChecksumException] {
      val in = fs.open(c)
      try in.readAllBytes() finally in.close()
    }
    val fc = FileContext.getFileContext(root, hconf)
    val e = new Path(dir.resolve("e").toUri)
    val fout = fc.create(e, java.util.EnumSet.of(CreateFlag.CREATE))
    try fout.write(1) finally fout.close()
    fc.rename(e, new Path(dir.resolve("e2").toUri))
    assert(Files.exists(dir.resolve(".e2.crc")) && !Files.exists(dir.resolve(".e.crc")))
  }
}
