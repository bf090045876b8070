package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkInternals
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark engine counters for one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, planningMs = 0L
  var inputBytes, outputBytes, shuffleWriteBytes, spillBytes = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; planningMs += o.planningMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** One timed call: times are nanoseconds since the tracer started. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written as JSON at exit. A span's jobs are found by job group:
  * the span sets its own id as the group of the calling thread, and a
  * streaming query's micro-batch jobs carry the query's runId, which
  * [[adopt]] maps to the span that started the query. A disabled
  * tracer only runs the bodies.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private val groupToSpan = new ConcurrentHashMap[String, Integer]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Integer, String]()
  private val execGroup = new ConcurrentHashMap[java.lang.Long, String]()
  private val origin = System.nanoTime()

  private def group(id: Int) = s"perfbench-$runId-$id"

  private def counters(g: String) = byGroup.computeIfAbsent(g, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      e.stageIds.foreach(s => stageGroup.put(s, g))
      val c = counters(g)
      c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = counters(stageGroup.getOrDefault(e.stageId, ""))
      if (m != null) c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime; c.runMs += m.executorRunTime; c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
      case x: SparkListenerSQLExecutionEnd =>
        SparkInternals.planningMs(x).foreach { ms =>
          val c = counters(execGroup.getOrDefault(x.executionId, ""))
          c.synchronized { c.planningMs += ms }
        }
      case _ =>
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Runs `body` inside a span named `name` (a child of the open span). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      groupToSpan.put(group(id), id)
      sc.setJobGroup(group(id), name)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0 - origin, System.nanoTime() - origin)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "")
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attributes jobs run under job group `g` (a streaming runId) to the
    * open span.
    */
  def adopt(g: String): Unit =
    if (enabled) stack.headOption.foreach(id => groupToSpan.put(g, id))

  /** Waits for the listener bus and detaches the listener. */
  def close(): Unit = if (enabled) {
    SparkInternals.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  def all: Seq[Span] = spans.toSeq

  /** Counters of the jobs attributed to each span (own jobs only). */
  def ownCounters: Map[Int, Counters] =
    byGroup.asScala.toSeq.flatMap { case (g, c) =>
      Option(groupToSpan.get(g)).map(id => id.intValue -> c)
    }.groupMapReduce(_._1)(_._2) { (a, b) => val s = new Counters; s += a; s += b; s }

  /** Counters of `span` and all of its descendants. */
  def totalCounters(span: Span): Counters = {
    val own = ownCounters
    val kids = spans.groupBy(_.parent)
    val acc = new Counters
    def walk(id: Int): Unit = {
      own.get(id).foreach(acc += _)
      kids.getOrElse(id, Nil).foreach(s => walk(s.id))
    }
    walk(span.id)
    acc
  }

  /** Span duration minus the part of it covered by its child spans. */
  def selfNs(span: Span): Long = {
    val kids = spans.filter(_.parent == span.id).sortBy(_.startNs)
    var covered = 0L
    var upTo = span.startNs
    kids.foreach { k =>
      val s = math.max(k.startNs, upTo)
      if (k.endNs > s) { covered += k.endNs - s; upTo = k.endNs }
    }
    (span.endNs - span.startNs) - covered
  }

  def json: String = spans.sortBy(_.id).map { s =>
    s"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
