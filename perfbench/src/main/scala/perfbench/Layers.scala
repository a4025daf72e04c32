package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.TxParquetSink
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Per-layer counters of one pass, measured from outside the engine: call
  * timings, Spark's public listeners (through [[Tracer]]), each executed
  * query's phase tracker, and the JVM's management beans. Listener-based
  * counters read 0 in an untraced pass. */
final class LayerProbe(spark: SparkSession, tracer: Tracer) {
  import LayerProbe.QueryObs
  private val queries = ArrayBuffer.empty[QueryObs]
  private val snapshots = ArrayBuffer.empty[(Double, Int)]
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private var gc0 = 0L
  private var gcDelta = 0L
  // The largest heap in use right after a collection: the live data, not
  // the garbage the collector had not needed to reclaim yet.
  @volatile private var heapPeak = 0L
  private val heapNames = heapPools.map(_.getName).toSet
  private val afterGc: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum
      if (used > heapPeak) heapPeak = used
    }
  private def gcEmitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = {
    if (tracer.on) {
      spark.sparkContext.addSparkListener(tracer.sparkListener)
      spark.streams.addListener(tracer.streamListener)
    }
    gcEmitters.foreach(_.addNotificationListener(afterGc, null, null))
    gc0 = gcMs
  }

  def finish(): Unit = {
    gcDelta = gcMs - gc0
    gcEmitters.foreach(_.removeNotificationListener(afterGc))
    if (tracer.on) {
      spark.sparkContext.removeSparkListener(tracer.sparkListener)
      spark.streams.removeListener(tracer.streamListener)
    }
  }

  /** Records one executed query: its wall time and Catalyst phases. */
  def query(df: DataFrame, span: Long, wallMs: Double): Unit =
    if (tracer.on) synchronized {
      val phases = df.queryExecution.tracker.phases
        .map { case (k, v) => k -> v.durationMs.toDouble }
      queries += QueryObs(span, wallMs, phases)
    }

  def snapshot(readMs: Double, files: Int): Unit = synchronized { snapshots += readMs -> files }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Milliseconds of [start, end) covered by at least one interval. */
  private def coveredMs(iv: Seq[(Long, Long)]): Double =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
      if (b <= reach) (acc, reach) else (acc + (b - math.max(a, reach)), b)
    }._1 / 1e6

  /** Every per-layer metric of the pass, keyed by its BENCHMARK.json name. */
  def layers(invocations: Seq[NrtBench.Invocation], sink: Option[TxParquetSink],
      spans: Seq[Tracer.Span]): Map[String, Double] = {
    val jobs = tracer.jobs.values().asScala.toSeq.filter(_.end > 0)
    val progress = tracer.progress.asScala.toSeq
    val ran = progress.filter(_.durationMs.containsKey("addBatch"))
    def dur(k: String) = mean(ran.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    // the runner span each progress event belongs to, and its batch key
    def inv(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      Option(tracer.runToSpan.get(p.runId.toString)).map(_.longValue).getOrElse(0L)
    val spanStart = tracer.spans.values().asScala.map(s => s.id -> s.start).toMap
    val startMs = progress.groupBy(inv).toSeq.flatMap { case (span, ps) =>
      spanStart.get(span).map { s0 =>
        (Tracer.epochToNano(ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).min) - s0) / 1e6
      }
    }
    val withInput = ran.filter(_.numInputRows > 0)
    val batchJobs = withInput.map { p =>
      val key = s"${inv(p)}/${p.batchId}"
      p -> jobs.filter(_.batchKey.contains(key))
    }
    val commits = sink.map(_.commits()).getOrElse(Nil)
    val nCommits = math.max(commits.size, 1).toDouble
    val rows = commits.map(_._2.rows).sum
    val filesPerCommit = sink.map { s =>
      mean(commits.map { case (_, m) =>
        m.files.map(f => Files.list(Paths.get(s.dir, f)).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))).sum.toDouble
      })
    }.getOrElse(0.0)
    val sinkBytes = sink.map { s =>
      Files.walk(Paths.get(s.dir)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
    }.getOrElse(0L)
    val qJobs = queries.toSeq.map(q => q -> jobs.filter(_.span == q.span))
    val stateOps = progress.flatMap(_.stateOperators.toSeq)
    Map(
      "sources.latest_offset_ms" -> dur("latestOffset"),
      "sources.get_batch_ms" -> dur("getBatch"),
      "sources.input_rows" -> progress.map(_.numInputRows.toDouble).sum,
      "streaming.invocations" -> invocations.size.toDouble,
      "streaming.batches" -> ran.size.toDouble,
      "streaming.start_ms" -> mean(startMs),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_rows" -> (if (stateOps.isEmpty) 0.0 else stateOps.map(_.numRowsTotal).max.toDouble),
      "streaming.watermark_dropped_rows" -> stateOps.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "etl.commits" -> commits.size.toDouble,
      "etl.rows_committed" -> rows.toDouble,
      "etl.files_per_commit" -> filesPerCommit,
      "etl.jobs_per_commit" -> batchJobs.map(_._2.size).sum / nCommits,
      "etl.job_ms_per_commit" -> batchJobs.flatMap(_._2.map(_.ms)).sum / nCommits,
      "etl.driver_residual_ms_per_commit" -> batchJobs.map { case (p, js) =>
        p.durationMs.get("addBatch").doubleValue - coveredMs(js.map(j => j.start -> j.end))
      }.sum / nCommits,
      "etl.snapshot_read_ms" -> mean(snapshots.map(_._1)),
      "etl.snapshot_files" -> mean(snapshots.map(_._2.toDouble)),
      "etl.sink_bytes_per_row" -> (if (rows == 0) 0.0 else sinkBytes.toDouble / rows),
      "olap.analysis_ms" -> mean(queries.map(_.phases.getOrElse("analysis", 0.0))),
      "olap.optimization_ms" -> mean(queries.map(_.phases.getOrElse("optimization", 0.0))),
      "olap.planning_ms" -> mean(queries.map(_.phases.getOrElse("planning", 0.0))),
      "olap.jobs_per_query" -> mean(qJobs.map(_._2.size.toDouble)),
      "olap.job_ms_per_query" -> mean(qJobs.map(_._2.map(_.ms).sum)),
      "olap.driver_residual_ms_per_query" -> mean(qJobs.map { case (q, js) =>
        q.wallMs - coveredMs(js.map(j => j.start -> j.end))
      }),
      "olap.shuffle_bytes_per_query" -> mean(qJobs.map(_._2.map(_.shuffleBytes.get.toDouble).sum)),
      "olap.spill_bytes_per_query" -> mean(qJobs.map(_._2.map(_.spillBytes.get.toDouble).sum)),
      "jvm.gc_ms" -> gcDelta.toDouble,
      "jvm.heap_peak_mb" -> heapPeak / 1048576.0
    ) ++ Tracer.SpanNames.map(n => s"trace.self_ms.$n" -> 0.0) ++
      Tracer.selfTimesMs(spans).map { case (n, ms) => s"trace.self_ms.$n" -> ms }
  }
}

object LayerProbe {
  private final case class QueryObs(span: Long, wallMs: Double, phases: Map[String, Double])
}

/** A minimal JSON writer for the benchmark's output. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
