package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Millisecond wall clock with sub-millisecond resolution on the epoch of
  * Spark's listener event times, so spans and job spans compare directly.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced call into graft: `run` is the root span (one query, one
  * capture round, one source transaction) it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      thread: String, start: Double, end: Double)

/** In-memory span recorder for calls the benchmark makes into graft's
  * public API. Spans nest per thread. The innermost open span id is also
  * set as a Spark local property, so the job listener can charge each job
  * to the call that launched it. Disabled, `span` only runs its body: the
  * untraced run pays nothing but a branch.
  */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  val SpanProp = "graftbench.span"
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def root[T](name: String)(body: => T): T = open(name, isRoot = true)(body)
  def span[T](name: String)(body: => T): T = open(name, isRoot = false)(body)

  private def open[T](name: String, isRoot: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0)
      val run = if (isRoot || outer.isEmpty) id else outer.head._2
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set((id, run) :: outer)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        val s = Span(id, name, parent, run, Thread.currentThread().getName,
          t0, Clock.nowMs)
        done.synchronized(done += s)
        stack.set(outer)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toSeq)
}

object Trace {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval its direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start) - covered(ch, s.start, s.end)
      }.sum
    }
  }
}

/** Per-job accounting from the listener bus. */
final class JobRec(val id: Int, val span: Int, val start: Double) {
  @volatile var end: Double = Double.NaN
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  var outBytes = 0L
  var outFiles = 0L
}

/** Planning phases of one query execution seen by the session's
  * listener manager.
  */
final case class QeRec(analysisMs: Double, optimizationMs: Double, planningMs: Double)

/** Listeners the traced run attaches, all through Spark's public APIs:
  * a `SparkListener` for jobs and task metrics, a `QueryExecutionListener`
  * for each query's `QueryPlanningTracker` phases, and a
  * `StreamingQueryListener` for micro-batch progress.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val progress = mutable.ArrayBuffer.empty[(Double, Map[String, Long], Long)]
  @volatile private var lastEvent = Clock.nowMs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty("graftbench.span"))).map(_.toInt).getOrElse(0)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    lastEvent = Clock.nowMs
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    lastEvent = Clock.nowMs
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      j.outBytes += m.outputMetrics.bytesWritten
      // a write task commits one file per partition it writes; the write
      // paths in graft write one partition per task
      if (m.outputMetrics.recordsWritten > 0) j.outFiles += 1
    }
    lastEvent = Clock.nowMs
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      Probe.this.synchronized {
        qes += QeRec(ms("analysis"), ms("optimization"), ms("planning"))
        lastEvent = Clock.nowMs
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.entrySet().toArray.map { x =>
        val en = x.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]]
        en.getKey -> en.getValue.longValue()
      }.toMap
      Probe.this.synchronized {
        progress += ((Clock.nowMs, d, p.numInputRows))
        lastEvent = Clock.nowMs
      }
    }
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Wait until the listener bus has delivered everything so far: no job
    * in flight and no event for `quietMs`. Called only between measured
    * calls of the traced run.
    */
  def quiesce(quietMs: Double = 40.0, maxMs: Double = 3000.0): Unit = {
    val t0 = Clock.nowMs
    def busy = synchronized(jobs.valuesIterator.exists(_.end.isNaN))
    while (Clock.nowMs - t0 < maxMs &&
      (busy || Clock.nowMs - lastEvent < quietMs)) Thread.sleep(5)
  }

  def jobList: Seq[JobRec] = synchronized(jobs.values.toSeq)
  def qeCount: Int = synchronized(qes.size)
  def qeSlice(from: Int, until: Int): Seq[QeRec] =
    synchronized(qes.slice(from, until).toSeq)
  def progressList: Seq[(Double, Map[String, Long], Long)] =
    synchronized(progress.toSeq)
}
