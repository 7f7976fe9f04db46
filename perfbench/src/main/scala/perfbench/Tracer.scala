package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call the harness makes into a layer. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Work that Spark did for the jobs started under one span. */
final class SparkCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var scanBytes = 0L; var scanRecords = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L; var spill = 0L
}

/** Spans kept in memory, plus (when on) Spark job/stage/task counts per
  * span. A span id travels to Spark as a local property of the calling
  * thread: jobs started under it, including those of a streaming query
  * started under it (its thread inherits the properties), carry the id in
  * their job and stage properties.
  */
final class Tracer(val on: Boolean) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var sc: SparkContext = _
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val counts = mutable.Map.empty[Int, SparkCounts]

  /** Root span id of the whole run; children hang off it. */
  val root = 0

  def attach(context: SparkContext): Unit = if (on) {
    sc = context
    sc.addSparkListener(this)
  }

  /** Run `body` as a child span of `parent`; it receives its own span id. */
  def span[T](parent: Int, name: String)(body: Int => T): T = {
    val id = nextId
    nextId += 1
    if (sc != null) sc.setLocalProperty(Tracer.Key, id.toString)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      if (sc != null) sc.setLocalProperty(Tracer.Key, if (parent == root) null else parent.toString)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Spark counts per span id, summed over every span whose id is listed. */
  def sparkCounts(ids: Iterable[Int]): SparkCounts = synchronized {
    val sum = new SparkCounts
    ids.flatMap(counts.get).foreach { c =>
      sum.jobs += c.jobs; sum.stages += c.stages; sum.tasks += c.tasks
      sum.runMs += c.runMs; sum.scanBytes += c.scanBytes; sum.scanRecords += c.scanRecords
      sum.shuffleWrite += c.shuffleWrite; sum.shuffleRead += c.shuffleRead
      sum.fetchWaitMs += c.fetchWaitMs; sum.spill += c.spill
    }
    sum
  }

  private def spanOf(p: Properties): Option[Int] =
    Option(p).flatMap(p => Option(p.getProperty(Tracer.Key))).map(_.toInt)

  private def of(span: Int) = counts.getOrElseUpdate(span, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      of(s).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).orElse(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      stageSpan(e.stageInfo.stageId) = s
      of(s).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = of(s)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRecords += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Total collections and collection ms over every collector so far. */
  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** Self time of each span: its duration minus the part its children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.ms).sum
      s.id -> (s.ms - covered)
    }.toMap
  }
}
