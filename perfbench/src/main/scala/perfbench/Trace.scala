package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One layer call: name, wall interval and the span that caused it.
  * Resource counters are filled by [[Tracer]]'s listener from the jobs the
  * span's thread submitted while it was the innermost open span. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var jobs = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder plus the one `SparkListener` that attributes jobs, tasks
  * and their resources to spans. Attribution rides on a Spark local
  * property the recorder sets on its own thread while a span is open; jobs
  * submitted with no span open land in span 0 ("unattributed").
  *
  * Disabled (the end-to-end runs), `span` runs its body and records
  * nothing, and no listener is registered. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer(new Span(0, "unattributed", -1, 0L, 0L))
  private var open: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()
  @volatile private var flushLatch: CountDownLatch = null

  private val listener = new SparkListener {
    private def spanOf(props: java.util.Properties): Span = {
      val id = Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(_.toIntOption).getOrElse(0)
      spans.synchronized(if (id < spans.size) spans(id) else spans(0))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (Option(e.properties).exists(_.getProperty(SpanKey) == FlushTag)) return
      val s = spanOf(e.properties)
      s.synchronized(s.jobs += 1)
      jobSpan.put(e.jobId, (s, e.time))
      e.stageIds.foreach(stageSpan.put(_, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobSpan.remove(e.jobId)) match {
        case Some((s, t0)) => s.synchronized(s.jobIntervals += ((t0, e.time)))
        case None => Option(flushLatch).foreach(_.countDown())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskMetrics != null) s.synchronized {
        val m = e.taskMetrics
        s.tasks += 1
        s.execCpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = spans.synchronized {
      val s = new Span(spans.size, name, parent, System.nanoTime(),
        System.currentTimeMillis())
      spans += s
      s
    }
    open = s :: open
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the listener has seen every event posted so far: a marker
    * job is submitted last, and the bus delivers events to a listener in
    * order. */
  def flush(): Unit = if (enabled) {
    flushLatch = new CountDownLatch(1)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, FlushTag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanKey, prev)
    flushLatch.await(60, TimeUnit.SECONDS)
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  def all: Seq[Span] = spans.synchronized(spans.toList).tail

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Every span below `s`, `s` excluded. */
  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }

  /** Counters of `s` including its descendants, whose jobs all run inside
    * its interval. */
  def inclusive(s: Span): Totals = (s +: descendants(s)).foldLeft(Totals()) {
    (t, x) => x.synchronized(Totals(t.jobs + x.jobs, t.tasks + x.tasks,
      t.execCpuNs + x.execCpuNs, t.shuffleBytes + x.shuffleBytes,
      t.spillBytes + x.spillBytes, t.jobIntervals ++ x.jobIntervals))
  }

  /** Span wall time minus the part of it its child spans cover. */
  def selfS(s: Span): Double =
    s.wallS - covered(children(s).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs) / 1e9

  /** Span wall time not covered by any job it (or a descendant) ran. */
  def driverGapS(s: Span): Double = {
    val ms = covered(inclusive(s).jobIntervals.toSeq, s.startMs, s.endMs)
    math.max(0.0, s.wallS - ms / 1e3)
  }

  def unattributedJobs: Long = spans.synchronized(spans(0).jobs)
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val FlushTag = "flush"

  case class Totals(jobs: Long = 0, tasks: Long = 0, execCpuNs: Long = 0,
      shuffleBytes: Long = 0, spillBytes: Long = 0,
      jobIntervals: Seq[(Long, Long)] = Nil)

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
