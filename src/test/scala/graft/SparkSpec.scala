package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{EngineSession, LocalFs}

/** Shared local session for specs (UTC, small shuffle width). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body` in a fresh EngineSession on the shared SparkContext; the
    * shared session stays the default afterwards.
    */
  def withEngine[T](body: SparkSession => T): T = {
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(EngineSession.create("local[4]", 4))
    finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  /** The jobs `body` starts from this thread, once the bus delivered them. */
  def jobsOf(s: SparkSession)(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = s.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(SparkSpec.JobTag) == tag)) { seen.add(j); () }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(SparkSpec.JobTag, tag)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc, 30000)
    } finally {
      sc.setLocalProperty(SparkSpec.JobTag, null)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  val Sf0001 = "/root/testdata/sf0.001"

  /** Drop test tables AND scrub their managed warehouse locations: a
    * previous JVM's run registers nothing in this run's catalog, so
    * `DROP TABLE IF EXISTS` alone is a no-op while the directory survives
    * and the next `saveAsTable` dies with LOCATION_ALREADY_EXISTS.
    */
  def dropTables(names: String*): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(wh, t)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(loc)
    }
  }
}

object SparkSpec {
  private val JobTag = "graft.test.jobsOf"

  // the engine's `file:` filesystem from the start: Hadoop keys only apply
  // where the SparkContext is created, and the `file:` FileSystem is
  // cached JVM-wide, so an EngineSession built later could not install it
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.SparkConf.toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
