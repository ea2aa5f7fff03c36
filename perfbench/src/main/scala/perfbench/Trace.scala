package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spans opened by the benchmark thread around the calls into each layer,
  * plus the Spark work charged to them.
  *
  * A span sets the Spark job group to its own id while it is open (and
  * restores its parent's on close), so every job the program submits from
  * that thread, or from threads it spawns, carries the id of the innermost
  * open span. A [[SparkListener]] charges jobs, tasks, executor run time,
  * shuffle writes and disk spill to that span. Spans stay in memory and
  * are written out when the run ends. */
final class Trace(sc: SparkContext) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[String, Span]
  private val stageSpan =
    new java.util.concurrent.ConcurrentHashMap[Int, Span]
  @volatile private var unattributedJobs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty(PerfbenchBus.JobGroupKey)))
      group.flatMap(g => Option(byId.get(g))) match {
        case Some(s) =>
          s.jobs += 1
          e.stageIds.foreach(stageSpan.put(_, s))
        case None => unattributedJobs += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.executorRunMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
        }
      }
  }

  def start(): Unit = sc.addSparkListener(listener)

  /** Waits for queued listener events, then detaches the listener. */
  def stop(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Runs `body` inside a span named `name`, child of the open span. */
  def span[A](name: String, attrs: (String, String)*)(body: => A): A = {
    val s = Span(spans.size, name, open.headOption.map(_.id), attrs.toMap)
    spans += s
    byId.put(s.key, s)
    open.push(s)
    sc.setJobGroup(s.key, name, interruptOnCancel = false)
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.key, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** All spans so far; call [[stop]] first so the Spark counts are
    * complete. */
  def all: Seq[Span] = spans.toSeq

  def unattributed: Long = unattributedJobs

  /** Self time: the span's duration minus the part its children cover
    * (children run one after another on the benchmark thread). */
  def selfNs(s: Span): Long =
    s.durNs - spans.iterator.filter(_.parent.contains(s.id)).map(_.durNs).sum

  def json: String = spans.map(s => Json.obj(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent.getOrElse(-1),
    "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
    "self_ms" -> selfNs(s) / 1e6, "jobs" -> s.jobs, "tasks" -> s.tasks,
    "executor_run_ms" -> s.executorRunMs,
    "shuffle_write_bytes" -> s.shuffleBytes,
    "disk_spill_bytes" -> s.spillBytes,
    "attrs" -> Json.obj(s.attrs.toSeq: _*)))
    .mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  final case class Span(id: Int, name: String, parent: Option[Int],
      attrs: Map[String, String]) {
    val key: String = s"perfbench-span-$id"
    var startNs = 0L
    var endNs = 0L
    @volatile var jobs = 0L
    @volatile var tasks = 0L
    @volatile var executorRunMs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    def durNs: Long = endNs - startNs
  }
}
