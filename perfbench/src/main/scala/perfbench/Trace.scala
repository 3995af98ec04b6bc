package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a root span; `op` is
  * the workload operation the span belongs to. Times are
  * `System.nanoTime`. */
final case class Span(id: Long, name: String, parent: Long, op: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to a span (and, inside a pipeline run, to one
  * node of it). */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskNs = 0L; var schedDelayNs = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  var lastJobEndNs = 0L

  def add(o: Counts): Counts = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    schedDelayNs += o.schedDelayNs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    lastJobEndNs = math.max(lastJobEndNs, o.lastJobEndNs)
    this
  }
}

/** The traced run's recorder: spans kept in memory and written out at
  * exit, plus a SparkListener that attributes jobs, stages, tasks, task
  * time, scheduler delay, shuffle bytes and spill to the span (and
  * pipeline node) whose thread submitted them. Attribution rides on two
  * Spark local properties, which threads a span's body starts inherit.
  * A disabled tracer records nothing and registers no listener. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val counts = mutable.Map.empty[(Long, String), Counts]
  private val stageKey = mutable.Map.empty[Int, (Long, String)]
  private val jobKey = mutable.Map.empty[Int, (Long, String)]

  private val listener = new SparkListener {
    private def key(p: java.util.Properties): (Long, String) =
      if (p == null) (0L, "")
      else (Option(p.getProperty(SpanProp)).map(_.toLong).getOrElse(0L),
        Option(p.getProperty(NodeProp)).getOrElse(""))
    private def at(k: (Long, String)): Counts = counts.getOrElseUpdate(k, new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val k = key(e.properties)
      jobKey(e.jobId) = k
      e.stageIds.foreach(stageKey(_) = k)
      at(k).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobKey.remove(e.jobId).foreach { k =>
        val c = at(k); c.lastJobEndNs = math.max(c.lastJobEndNs, System.nanoTime())
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageKey.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageKey.get(e.stageId).foreach { k =>
        val c = at(k)
        c.tasks += 1
        if (m != null) {
          c.taskNs += m.executorRunTime * 1000000L
          val delayMs = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - e.taskInfo.gettingResultTime
          c.schedDelayNs += math.max(0L, delayMs) * 1000000L
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def current: Long = stack.get.headOption.getOrElse(0L)

  /** Time `body` as span `name` of operation `op`; jobs it submits are
    * attributed to the span. */
  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, op, t0, System.nanoTime()))
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Record a span timed elsewhere (pipeline nodes, whose sink write
    * ends after their build returns). */
  def record(name: String, parent: Long, op: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, parent, op, startNs, endNs))

  /** Id of the innermost open span on this thread (0 when none). */
  def openSpan: Long = current

  /** Deliver every queued listener event before counts are read. */
  def drain(): Unit = if (enabled) org.apache.spark.graft.ListenerBusDrain.drain(sc)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Work of span `id`, optionally of one pipeline node inside it. */
  def countsOf(id: Long, node: String = ""): Counts = synchronized {
    counts.getOrElse((id, node), new Counts)
  }

  /** Work of span `id` across every node inside it. */
  def totalOf(id: Long): Counts = synchronized {
    counts.collect { case ((s, _), c) if s == id => c }.foldLeft(new Counts)(_ add _)
  }

  /** Self time per span name: each span's duration minus the part of
    * it that its children cover (children may overlap one another). */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.map { case (name, group) =>
      val total = group.map(_.seconds).sum
      val self = group.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
      (name, group.size, total, self)
    }.sortBy(-_._4)
  }

  def toJson(workload: String, seed: Long): String = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val sb = new StringBuilder
    sb ++= s"""{"workload":${Json.str(workload)},"seed":$seed,"spans":["""
    sb ++= all.map { s =>
      val c = totalOf(s.id)
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_s":${c.taskNs / 1e9},""" +
        s""""sched_delay_s":${c.schedDelayNs / 1e9},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes}}"""
    }.mkString(",")
    sb ++= "],\"self_time\":["
    sb ++= selfTimes.map { case (n, k, t, s) =>
      s"""{"name":${Json.str(n)},"count":$k,"total_s":$t,"self_s":$s}"""
    }.mkString(",")
    sb ++= "]}"
    sb.result()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val NodeProp = "perfbench.node"

  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
