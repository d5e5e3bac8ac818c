package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch nanoseconds; `parent` is 0
  * for a root span. Engine spans are Spark jobs, parented to the span
  * whose id the submitting thread carried as a local property.
  */
final case class Span(id: Long, name: String, layer: String, start: Long,
    end: Long, parent: Long, request: Long, failed: Boolean)

/** Task counters summed per span, from the listener. */
final class EngineCounters {
  var jobs = 0L
  var tasks = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var inputBytes = 0L
}

/** In-memory spans around the benchmark's calls into graft modules.
  * Off (the default), `span` only runs the body. On, each span is
  * recorded when it closes, and the span id travels to Spark as the
  * local property [[Tracer.Prop]], which child threads inherit, so
  * the registered [[JobListener]] files every job and task under the
  * span that caused it.
  */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset

  val listener = new JobListener
  sc.addSparkListener(listener)

  /** Run `f` inside a span of `layer`; `request` groups the spans of
    * one request (0 = inherit the enclosing span's).
    */
  def span[T](layer: String, name: String, request: Long = 0L)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, req) = outer.headOption match {
        case Some((p, r)) => (p, if (request != 0L) request else r)
        case None => (0L, request)
      }
      val c0 = System.nanoTime()
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      stack.set((id, req) :: outer)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = now()
      costNs.addAndGet(System.nanoTime() - c0)
      var failed = true
      try {
        val r = f
        failed = false
        r
      } finally {
        val c1 = System.nanoTime()
        closed.add(Span(id, name, layer, t0, now(), parent, req, failed))
        sc.setLocalProperty(Tracer.Prop, prevProp)
        stack.set(outer)
        costNs.addAndGet(System.nanoTime() - c1)
      }
    }

  /** Time spent in span bookkeeping on the calling threads. */
  val costNs = new AtomicLong(0)

  /** Every closed span; a job carries its calling span's request. */
  def spans: Seq[Span] = {
    val mine = closed.asScala.toSeq
    val request = mine.map(s => s.id -> s.request).toMap
    mine ++ listener.jobSpans.map(j => j.copy(request = request.getOrElse(j.parent, 0L)))
  }

  /** Write every span, one JSON object a line. */
  def dump(path: String): Unit = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(json.writeValueAsString(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "request" -> s.request,
        "failed" -> s.failed).asJava))
    } finally w.close()
  }
}

object Tracer {
  val Prop = "graft.perfbench.span"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def coverage(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
      }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Self time per span: duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent != 0L).groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> ((s.end - s.start) - coverage(c, s.start, s.end))
    }.toMap
  }
}

/** Files Spark jobs and task metrics under the benchmark span named
  * by the submitting thread's [[Tracer.Prop]] local property. Jobs
  * without the property (untraced phases) are ignored.
  */
final class JobListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, (Long, Long)] // job -> (span, start ns)
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobs = new ConcurrentLinkedQueue[Span]()
  private val counters = mutable.Map.empty[Long, EngineCounters]
  private val ids = new AtomicLong(1L << 40)

  def jobSpans: Seq[Span] = jobs.asScala.toSeq

  def countersBySpan: Map[Long, EngineCounters] = synchronized(counters.toMap)

  /** Time spent in this listener's handlers (the listener bus thread). */
  val costNs = new AtomicLong(0)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(f)
    costNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .foreach { sid =>
        val span = sid.toLong
        jobSpan(e.jobId) = (span, e.time * 1000000L)
        e.stageIds.foreach(stageSpan(_) = span)
        counters.getOrElseUpdate(span, new EngineCounters).jobs += 1
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      val failed = e.jobResult != JobSucceeded
      jobs.add(Span(ids.incrementAndGet(), "job", "engine", t0,
        math.max(t0, e.time * 1000000L), span, 0L, failed))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stageSpan.get(e.stageId).foreach { span =>
      val c = counters.getOrElseUpdate(span, new EngineCounters)
      c.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}
