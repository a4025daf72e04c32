package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** In-memory spans and counters for the traced pass.
  *
  * Spans are opened and closed by the benchmark around its own calls into
  * the engine (generator drops, runner invocations, reader and OLAP
  * queries). Spark jobs and streaming micro-batches arrive from Spark's
  * public listener interfaces and are attached to the benchmark span that
  * caused them: the calling thread's span id travels to every job as a
  * local property (the stream execution thread inherits it from the
  * thread that started the query), and streaming jobs also carry their
  * micro-batch id.
  *
  * The listeners only append to concurrent collections. They never wait:
  * the sink's commit path itself waits on the same listener bus.
  */
final class Tracer(val on: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  val spans = new ConcurrentHashMap[Long, Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageToJob = new ConcurrentHashMap[Int, Integer]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  /** Opens a span; the returned id is 0 when tracing is off. */
  def open(name: String, parent: Long = 0L): Long =
    if (!on) 0L
    else {
      val s = Span(nextId.incrementAndGet(), parent, name, System.nanoTime())
      spans.put(s.id, s)
      s.id
    }

  def close(id: Long): Unit =
    if (on && id != 0L) spans.get(id).end = System.nanoTime()

  def span[T](name: String, parent: Long = 0L)(body: Long => T): T = {
    val id = open(name, parent)
    try body(id) finally close(id)
  }

  /** Spans plus the jobs and micro-batches turned into spans of their
    * own, nested under the span that caused them. */
  def allSpans(): Seq[Span] = {
    val own = spans.values().asScala.toSeq
    val batchSpans = progress.asScala.toSeq.flatMap { p =>
      val start = Tracer.epochToNano(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val inv = Option(p.runId).flatMap(r => Option(runToSpan.get(r.toString)))
      inv.map(i => Span(nextId.incrementAndGet(), i.longValue, "streaming.batch", start,
        start + dur * 1000000L, batchKey = s"$i/${p.batchId}"))
    }
    val byBatch = batchSpans.map(b => b.batchKey -> b.id).toMap
    val jobSpans = jobs.values().asScala.toSeq.filter(_.end > 0).map { j =>
      val parent = j.batchKey.flatMap(byBatch.get).getOrElse(j.span)
      Span(nextId.incrementAndGet(), parent, "spark.job", j.start, j.end)
    }
    own ++ batchSpans ++ jobSpans
  }

  /** Streaming run id → the runner span that started it; written by
    * onQueryStarted, which Spark calls synchronously inside start(). */
  val runToSpan = new ConcurrentHashMap[String, java.lang.Long]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanKey).map(_.toLong).getOrElse(0L)
      val batchKey = prop("streaming.sql.batchId").map(b => s"$span/$b")
      jobs.put(e.jobId, Job(e.jobId, epochToNano(e.time), span, batchKey))
      e.stageIds.foreach(s => stageToJob.put(s, Integer.valueOf(e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = epochToNano(e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val jobId = stageToJob.get(e.stageId)
      if (m != null && jobId != null) {
        val j = jobs.get(jobId.intValue)
        if (j != null) {
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  /** Set by the runner before each invocation; read when its query starts. */
  @volatile var currentInvocation: Long = 0L

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      runToSpan.put(e.runId.toString, currentInvocation)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Every span name a pass can record. */
  val SpanNames: Seq[String] = Seq("loadgen.drop", "runner.invocation", "streaming.batch",
    "spark.job", "reader.query", "olap.query")

  final case class Span(id: Long, parent: Long, name: String, start: Long,
      var end: Long = 0L, batchKey: String = "")

  final case class Job(id: Int, start: Long, span: Long, batchKey: Option[String]) {
    @volatile var end: Long = 0L
    val shuffleBytes = new AtomicLong(0)
    val spillBytes = new AtomicLong(0)
    def ms: Double = (end - start) / 1e6
  }

  // Listener events carry wall-clock millis; spans use the monotonic
  // clock. One offset taken at start-up maps one onto the other.
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def epochToNano(ms: Long): Long = ms * 1000000L + offsetNs

  /** Self time per span name: each span's duration minus the part of it
    * its children cover (children clipped to the parent, overlaps
    * merged). */
  def selfTimesMs(spans: Seq[Span]): Map[String, Double] = {
    val closed = spans.filter(s => s.end >= s.start && s.end > 0)
    val kids = closed.groupBy(_.parent)
    closed.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
            if (b <= reach) (acc, reach)
            else (acc + (b - math.max(a, reach)), b)
          }._1
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }
}
