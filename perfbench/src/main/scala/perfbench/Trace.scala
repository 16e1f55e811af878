package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer, made from the benchmark's own code. */
final case class Span(id: Long, parent: Long, request: Long, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span by [[Trace.Listener]]. */
final class Counts {
  @volatile var jobs, tasks, cpuNs, shuffleWrite, spill, gcMs = 0L
  def add(o: Counts): Unit = synchronized {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; spill += o.spill; gcMs += o.gcMs
  }
}

/** In-memory span recorder. Spans are kept only while [[on]] is set, so an
  * untraced run pays one volatile read per call site. The open span's id
  * travels to Spark as a job-group local property, which is how the
  * listener attributes jobs and tasks to the span that caused them. */
object Trace {
  @volatile var on = false
  private val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val requests = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val request = new ThreadLocal[Long] { override def initialValue() = 0L }
  private val counts = TrieMap.empty[Long, Counts]
  @volatile private var sc: Option[SparkContext] = None

  def bind(context: SparkContext): Unit = {
    sc = Some(context)
    context.addSparkListener(new Listener)
  }

  /** Run `body` as a new request: its spans share one request id. */
  def newRequest[T](body: => T): T = {
    val prev = request.get
    request.set(requests.incrementAndGet())
    try body finally request.set(prev)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        recorded.add(Span(id, stack.headOption.getOrElse(0L), request.get, layer, name,
          t0, System.nanoTime()))
        open.set(stack)
        sc.foreach(_.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull))
      }
    }

  def spans: Seq[Span] = recorded.asScala.toSeq

  /** Self time per span: its duration minus the union of its children's
    * intervals (children of one span can overlap only across threads). */
  def selfNs: Map[Long, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter(t => t._2 > t._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = curE max b
      }
      if (curE > curS) covered += curE - curS
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Span counts summed over a span and all its descendants. */
  def inclusiveCounts(id: Long): Counts = {
    val kids = spans.groupBy(_.parent)
    val total = new Counts
    def walk(i: Long): Unit = {
      counts.get(i).foreach(total.add)
      kids.getOrElse(i, Nil).foreach(c => walk(c.id))
    }
    walk(id)
    total
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = spans.sortBy(_.startNs).map { s =>
      val c = counts.getOrElse(s.id, new Counts)
      Main.json(Map("id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id), "jobs" -> c.jobs, "tasks" -> c.tasks,
        "task_cpu_ns" -> c.cpuNs, "shuffle_write_bytes" -> c.shuffleWrite,
        "spill_bytes" -> c.spill, "gc_ms" -> c.gcMs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Totals over every job Spark ran while tracing was on. */
  val total = new Counts

  final class Listener extends SparkListener {
    private val stageSpan = TrieMap.empty[Int, Long]
    // Only jobs started under an open span are counted: untraced work
    // never carries the property, whenever the bus delivers its events.
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).foreach { p =>
        val span = p.toLong
        e.stageIds.foreach(stageSpan.put(_, span))
        val c = counts.getOrElseUpdate(span, new Counts)
        c.synchronized { c.jobs += 1 }
        total.synchronized { total.jobs += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) stageSpan.get(e.stageId).foreach { span =>
        val m = e.taskMetrics
        val d = new Counts
        d.tasks = 1
        d.cpuNs = m.executorCpuTime
        d.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        d.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        d.gcMs = m.jvmGCTime
        counts.getOrElseUpdate(span, new Counts).add(d)
        total.add(d)
      }
  }
}
