package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and Spark events for the traced run, kept in memory and written
  * out at the end.
  *
  * The harness opens a span around each call it makes into a module
  * (`span("queries.construct", req) { ... }`). A span is (name, start, end,
  * parent, request id); times are wall-clock microseconds. While a span is
  * open its id rides the thread's Spark local properties, so every Spark
  * job the call fires carries it: the [[SparkListener]] below turns jobs
  * and stages into child spans and sums their task metrics per span.
  * Streaming progress events are kept per query.
  *
  * Disabled (the untraced run), `span` only runs its body: no listener is
  * registered and nothing is recorded.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  // inheritable, like Spark's local properties: a thread started inside a
  // span (a streaming query's execution thread) runs under that span
  private val stack = new InheritableThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }

  /** Task-metric totals per span id (jobs attributed by local property). */
  private val perSpan = new java.util.concurrent.ConcurrentHashMap[Long, Counters]()
  /** Streaming progress rows: (query name, batch id, input rows, durationMs). */
  private val progress = mutable.ArrayBuffer.empty[(String, Long, Long, Map[String, Long])]

  @volatile private var lastEventNanos = System.nanoTime()
  private val jobsStarted = new java.util.concurrent.atomic.AtomicLong()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicLong()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNanos = System.nanoTime()
      jobsStarted.incrementAndGet()
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropSpan))).map(_.toLong).getOrElse(0L)
      val req = Option(e.properties).flatMap(p => Option(p.getProperty(PropReq))).getOrElse("")
      val s = newSpan("spark.job", parent, req, e.time * 1000L)
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(id => stageJob.put(id, s))
      counters(parent).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNanos = System.nanoTime()
      Option(jobSpan.get(e.jobId)).foreach(_.end = e.time * 1000L)
      jobsEnded.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventNanos = System.nanoTime()
      val info = e.stageInfo
      val job = Option(stageJob.get(info.stageId))
      val parent = job.map(_.parent).getOrElse(0L)
      val st = newSpan("spark.stage", job.map(_.id).getOrElse(0L), job.map(_.req).getOrElse(""),
        info.submissionTime.getOrElse(0L) * 1000L)
      st.end = info.completionTime.getOrElse(0L) * 1000L
      val c = counters(parent)
      c.stages += 1
      c.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = mutable.Map.empty[String, Long]
      p.durationMs.forEach((k, v) => d(k) = v.longValue())
      progress.synchronized {
        progress += ((Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows, d.toMap))
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(queryListener)
  }

  private def counters(span: Long): Counters = perSpan.computeIfAbsent(span, _ => new Counters)

  private def newSpan(name: String, parent: Long, req: String, startUs: Long): Span = {
    val s = Span(nextId.getAndIncrement(), name, parent, req, startUs)
    spans.synchronized(spans += s)
    s
  }

  /** Run `body` inside a span named `name`, child of this thread's open
    * span, tagged with request id `req`.
    */
  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val parent = outer.headOption.map(_.id).getOrElse(0L)
      val s = newSpan(name, parent, if (req.nonEmpty) req else outer.headOption.map(_.req).getOrElse(""), Main.wallMicros())
      stack.set(s :: outer)
      val prevSpan = sc.getLocalProperty(PropSpan)
      val prevReq = sc.getLocalProperty(PropReq)
      sc.setLocalProperty(PropSpan, s.id.toString)
      sc.setLocalProperty(PropReq, s.req)
      try body
      finally {
        s.end = Main.wallMicros()
        sc.setLocalProperty(PropSpan, prevSpan)
        sc.setLocalProperty(PropReq, prevReq)
        stack.set(outer)
      }
    }

  /** The id of this thread's innermost open span (0 when none). */
  def current: Long = stack.get().headOption.map(_.id).getOrElse(0L)

  /** Totals of span `id` and every harness span below it; with `only`,
    * of its direct children named `only` and everything below them.
    */
  def totals(id: Long, only: String = ""): Counters = {
    val kids = spans.synchronized(spans.filterNot(_.name.startsWith("spark.")).groupBy(_.parent))
    val out = new Counters
    def walk(i: Long): Unit = {
      Option(perSpan.get(i)).foreach(out.add)
      kids.getOrElse(i, Nil).foreach(s => walk(s.id))
    }
    if (only.isEmpty) walk(id) else kids.getOrElse(id, Nil).filter(_.name == only).foreach(s => walk(s.id))
    out
  }

  /** Wait until the listener has seen every job end and the bus is quiet. */
  def drain(timeoutMs: Long = 10000L): Unit =
    if (enabled) {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline &&
        (jobsEnded.get() < jobsStarted.get() || System.nanoTime() - lastEventNanos < 300L * 1000000L))
        Thread.sleep(50)
    }

  def close(): Unit =
    if (enabled) {
      drain()
      sc.removeSparkListener(jobListener)
      spark.streams.removeListener(queryListener)
    }

  /** Per-trigger medians from the streaming listener's `durationMs`, over
    * the batches of `query` (its name, or its id when unnamed) that carried
    * rows, after the first `skip`.
    */
  def triggerMetrics(query: String, skip: Int): Seq[(String, Double)] = {
    val rows = progress.synchronized(progress.toList)
      .filter { case (n, _, in, _) => n == query && in > 0 }
      .sortBy(_._2)
      .drop(skip)
    def p50(k: String) = Stats.median(rows.map(_._4.getOrElse(k, 0L).toDouble))
    Seq(
      "streaming.trigger_p50_ms" -> p50("triggerExecution"),
      "streaming.latest_offset_p50_ms" -> p50("latestOffset"),
      "streaming.planning_p50_ms" -> p50("queryPlanning"),
      "streaming.add_batch_p50_ms" -> p50("addBatch"),
      "streaming.wal_commit_p50_ms" -> p50("walCommit"),
      "streaming.rows_per_batch_p50" -> Stats.median(rows.map(_._3.toDouble)),
      "streaming.batches" -> rows.size.toDouble
    )
  }

  /** Spans as JSON lines: id, name, parent, req, start_us, end_us. */
  def writeSpans(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try spans.synchronized(spans.foreach { s =>
      w.println(
        s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"req":${Json.str(s.req)},"start_us":${s.start},"end_us":${s.end}}"""
      )
    })
    finally w.close()
  }

  /** Self time in seconds per span name, summed over the run: a span's
    * duration minus the part of it covered by its child spans (harness
    * spans, Spark jobs, Spark stages).
    */
  def selfTimes(): Seq[(String, Double)] = {
    val all = spans.synchronized(spans.toList).filter(s => s.end >= s.start && s.start > 0)
    val kids = all.groupBy(_.parent)
    val self = mutable.LinkedHashMap.empty[String, Double]
    all.foreach { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      val v = (s.end - s.start - covered) / 1e6
      self(s.name) = self.getOrElse(s.name, 0.0) + v
    }
    self.toSeq.sortBy(_._1)
  }
}

object Trace {
  val PropSpan = "graftbench.span"
  val PropReq = "graftbench.req"

  final case class Span(id: Long, name: String, parent: Long, req: String, start: Long) {
    @volatile var end: Long = 0L
  }

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    def add(o: Counters): Unit = synchronized {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
      inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    }
  }
}
