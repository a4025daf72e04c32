package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Star, TxParquetSink}
import graft.sources.CsvSources
import graft.streaming.StreamETL
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark's JVM program. It runs one workload in one JVM and
  * writes raw samples, correctness observations and (when traced)
  * per-layer counters as JSON; `run.py` turns them into the reported
  * metrics and checks the observations against the generator's
  * expectations and against DuckDB.
  *
  * It reaches the engine only through public entry points:
  * `CsvSources.transactionStream`, `StreamETL.runAvailableNowTx`,
  * `TxParquetSink.readSnapshot`/`version`/`commits`, `Star.*` and
  * `SparkEntry.queries`/`oracleSql`.
  */
object NrtBench {

  /** The paper's Q1–Q10 rows; the `_literal` twins are excluded. */
  val OlapRows: Seq[String] = Seq(
    "q01_weekend", "q01_weekday", "q02_quarterly_growth", "q03_supplier_contribution",
    "q04_seasonal", "q05_volatility", "q06_affinity", "q07_rollup", "q08_halfyear",
    "q09_spikes", "q10_store_quarterly")

  final case class FileSpec(name: String, firstId: Long, lastId: Long)

  final class Conf(m: Map[String, String]) {
    val workload: String = m("workload")
    val seed: Long = m("seed").toLong
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m("trace") == "1"
    val dataDir: String = m("data")
    val feedDir: String = m.getOrElse("feed", "")
    val work: String = m("work")
    val out: String = m("out")
    val cpus: Int = m("cpus").toInt
    val setupReps: Int = m("setup-reps").toInt
    val rate: Double = m.getOrElse("rate", "1").toDouble
    val catchupFiles: Int = m.getOrElse("catchup-files", "0").toInt
    val drainFiles: Int = m.get("drain-files").map(_.toInt).getOrElse(catchupFiles)
    val warmFiles: Int = m.getOrElse("warm-files", "0").toInt
    val maxFilesPerTrigger: Int = m.getOrElse("max-files-per-trigger", "1").toInt
    lazy val plan: IndexedSeq[FileSpec] =
      Files.readAllLines(Paths.get(feedDir, "plan.tsv")).asScala.toIndexedSeq.map { l =>
        val Array(n, a, b) = l.split("\t")
        FileSpec(n, a.toLong, b.toLong)
      }
  }

  private val jvmStart = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.1f s: $what")

  def main(argv: Array[String]): Unit = {
    val conf = new Conf(argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    val setups = ArrayBuffer.empty[Double]
    var env: Env = null
    for (_ <- 1 to conf.setupReps) {
      // a repeat starts from nothing cached: drop what the last set-up built
      val previous = Option(env).map { e =>
        e.spark.catalog.clearCache()
        graft.util.SessionCache.invalidate(e.spark)
        e.spark
      }
      val t0 = System.nanoTime()
      env = setup(conf, previous)
      setups += (System.nanoTime() - t0) / 1e9
      phase(f"set-up took ${setups.last}%.2f s")
    }
    val passes = ArrayBuffer.empty[Map[String, Any]]
    // A traced run measures its traced pass first, under the same
    // conditions as an untraced run's only pass, so the per-layer numbers
    // describe what the end-to-end metrics measure. The untraced pass
    // that follows runs on a warmer JVM, so traced minus untraced
    // overstates the tracing overhead: it is an upper bound.
    val traceModes = if (conf.trace) Seq(true, false) else Seq(false)
    conf.workload match {
      case "olap_star" =>
        val refs = olapReference(env, conf)
        phase("reference round done")
        traceModes.foreach(t => passes += olapPass(env, conf, refs, new Tracer(t)))
      case "nrt_catchup" | "nrt_ingest" | "nrt_mixed" =>
        warmIngest(env, conf)
        phase("warm-up ingest done")
        traceModes.zipWithIndex.foreach { case (t, i) =>
          passes += ingestPass(env, conf, new Tracer(t), s"pass$i",
            withReader = conf.workload == "nrt_mixed")
        }
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    phase("passes done")
    Files.writeString(Paths.get(conf.out),
      Json(Map("setup_s" -> setups.toSeq, "passes" -> passes.toSeq)))
    env.spark.stop()
  }

  // ---------------------------------------------------------------- set-up

  final case class Env(spark: SparkSession, products: DataFrame, customers: DataFrame)

  /** Session start plus the warehouse state the workload reads: the star
    * schema for OLAP, the MESHJOIN master data for ingest. The first call
    * starts Spark; a repeat builds everything again in a new session on
    * the same Spark context. */
  def setup(conf: Conf, previous: Option[SparkSession]): Env = {
    val spark = previous match {
      case Some(old) => old.newSession()
      case None =>
        val s = SparkSession.builder()
          .master(s"local[${conf.cpus}]")
          .appName("perfbench")
          .config("spark.sql.shuffle.partitions", conf.cpus.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", s"${conf.work}/spark-local")
          .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
    }
    val dir = conf.dataDir
    if (conf.workload == "olap_star") {
      // the star tables the Q1–Q10 rows read
      Seq(Star.salesFact(spark, dir), Star.dimTime(spark, dir), Star.dimProduct(spark, dir),
        Star.dimStore(spark, dir), Star.dimSupplier(spark, dir))
        .foreach(_.count())
      Env(spark, null, null)
    } else {
      // Master data for the MESHJOIN: ids as strings, like the feed's.
      val products = Star.dimProduct(spark, dir)
        .join(Star.dimStore(spark, dir), Seq("store_id"), "left")
        .join(Star.dimSupplier(spark, dir), Seq("supplier_id"), "left")
        .select(col("product_id").cast("string").as("product_id"), col("product_name"),
          col("price"), col("store_id"), col("store_name"), col("supplier_id"),
          col("supplier_name"))
        .persist()
      val customers = Star.dimCustomer(spark, dir)
        .select(col("customer_id").cast("string").as("customer_id"), col("customer_name"),
          col("gender"))
        .persist()
      products.count()
      customers.count()
      Env(spark, products, customers)
    }
  }

  // ----------------------------------------------------------------- OLAP

  /** One untimed round: warms the JIT and codegen caches, and keeps each
    * row's result as the reference every timed run of it must reproduce.
    * The rows run concurrently, one per core, because this round is
    * compile-bound on a cold JVM and nothing in it is timed. The results
    * are also written as parquet, with the rows' DuckDB twins, for
    * run.py's oracle check. */
  def olapReference(env: Env, conf: Conf): Map[String, Array[Row]] = {
    val spark = env.spark
    val checkDir = Paths.get(conf.work, "olap_check")
    Files.createDirectories(checkDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conf.cpus)
    val refs = try {
      OlapRows.map { name =>
        name -> pool.submit { () =>
          val df = graft.SparkEntry.queries(name)(spark, conf.dataDir)
          val rows = df.collect()
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(name).toString)
          rows
        }
      }.map { case (name, f) => name -> f.get() }.toMap
    } finally pool.shutdown()
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json(OlapRows.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    refs
  }

  /** Closed loop, one client: seeded-order rounds of the OLAP rows. Only
    * whole rounds are run, so every row is sampled equally often: as many
    * as fit in `seconds` at the pace of the rounds so far, and at least
    * two, because one round's 11 samples leave its p90 to a single
    * execution of the slowest row. */
  def olapPass(env: Env, conf: Conf, refs: Map[String, Array[Row]], tracer: Tracer)
      : Map[String, Any] = {
    val spark = env.spark
    val rnd = new scala.util.Random(conf.seed)
    val probe = new LayerProbe(spark, tracer)
    probe.start()
    val samples = ArrayBuffer.empty[(String, Double)]
    var failed = 0
    val t0 = System.nanoTime()
    var rounds = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole rounds, as many as fit in `seconds`, at least two
    while (rounds < 2 || elapsed * (rounds + 1) / rounds <= conf.seconds) {
      rounds += 1
      for (name <- rnd.shuffle(OlapRows)) {
        val q = timedQuery(spark, tracer, probe, "olap.query") {
          graft.SparkEntry.queries(name)(spark, conf.dataDir)
        }
        samples += name -> q.ms
        if (!q.rows.sameElements(refs(name))) {
          failed += 1
          System.err.println(s"[perfbench] $name returned a result that differs from its reference run")
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    probe.finish()
    Map[String, Any]("traced" -> tracer.on,
      "latency_ms" -> samples.map(_._2).toSeq,
      "latency_names" -> samples.map(_._1).toSeq,
      "throughput_per_s" -> samples.size / wall,
      "attempted" -> samples.size, "failed" -> failed,
    ) ++ traceOut(tracer, spans => probe.layers(Nil, None, spans))
  }

  /** The pass's per-layer metrics and, when traced, its spans (times in
    * ms from the first span's start). */
  def traceOut(tracer: Tracer, layers: Seq[Tracer.Span] => Map[String, Double])
      : Map[String, Any] = {
    val spans = tracer.allSpans()
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    Map("layers" -> layers(spans),
      "spans" -> spans.sortBy(_.start).map(s => Seq(s.id, s.parent, s.name,
        (s.start - t0) / 1e6, (s.end - t0) / 1e6)))
  }

  final case class Timed(ms: Double, rows: Array[Row], df: DataFrame)

  /** Runs one query under its own span (its Spark jobs carry the span id)
    * and times plan + execution + result collection. */
  def timedQuery(spark: SparkSession, tracer: Tracer, probe: LayerProbe, spanName: String)(
      build: => DataFrame): Timed = {
    val id = tracer.open(spanName)
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, id.toString)
    try {
      val t0 = System.nanoTime()
      val df = build
      val rows = df.collect()
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.close(id)
      probe.query(df, id, ms)
      Timed(ms, rows, df)
    } finally spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
  }

  // --------------------------------------------------------------- ingest

  /** An untimed ingest on a throwaway sink, so the passes do not pay for
    * first-use class loading and code generation: the first `warmFiles`
    * files land at once and one invocation commits them. */
  def warmIngest(env: Env, conf: Conf): Unit = {
    val dir = Paths.get(conf.work, "warm")
    val in = Files.createDirectories(dir.resolve("in"))
    val sink = TxParquetSink(dir.resolve("sink").toString)
    conf.plan.take(conf.warmFiles).foreach(f => Files.copy(Paths.get(conf.feedDir, f.name), in.resolve(f.name)))
    if (conf.warmFiles > 0)
      StreamETL.runAvailableNowTx(env.spark,
        CsvSources.transactionStream(env.spark, in.toString, conf.maxFilesPerTrigger),
        env.products, env.customers, sink, dir.resolve("ckpt").toString)
  }

  /** One runner invocation; `droppedBefore` is how many files had been
    * dropped when it started. */
  final class Invocation(val startNs: Long, val droppedBefore: Int) {
    var endNs = 0L
    var ok = true
  }

  /** Catch-up, then the open-loop live phase (with the closed-loop reader
    * on `nrt_mixed`), on a fresh sink. */
  def ingestPass(env: Env, conf: Conf, tracer: Tracer, name: String, withReader: Boolean)
      : Map[String, Any] = {
    val spark = env.spark
    val dir = Paths.get(conf.work, name)
    val stage = Files.createDirectories(dir.resolve("stage"))
    val in = Files.createDirectories(dir.resolve("in"))
    val sink = TxParquetSink(dir.resolve("sink").toString)
    val ckpt = dir.resolve("ckpt").toString
    val plan = conf.plan
    plan.foreach(f => Files.copy(Paths.get(conf.feedDir, f.name), stage.resolve(f.name)))
    val probe = new LayerProbe(spark, tracer)
    probe.start()

    // version → the instant its commit was published (first sighting
    // after a batch's write returned)
    val published = new ConcurrentHashMap[Long, java.lang.Long]()
    val invocations = ArrayBuffer.empty[Invocation]
    @volatile var dropped = 0
    def drop(f: FileSpec): Unit = {
      val src = stage.resolve(f.name)
      Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(src, in.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
      dropped += 1
    }
    def invoke(): Invocation = {
      val inv = new Invocation(System.nanoTime(), dropped)
      val id = tracer.open("runner.invocation")
      tracer.currentInvocation = id
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, id.toString)
      try StreamETL.runAvailableNowTx(spark,
          CsvSources.transactionStream(spark, in.toString, conf.maxFilesPerTrigger),
          env.products, env.customers, sink, ckpt,
          afterBatchWrite = _ => published.putIfAbsent(sink.version(), System.nanoTime()))
      catch {
        case e: Exception =>
          inv.ok = false
          System.err.println(s"[perfbench] runner invocation failed: $e")
      } finally {
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
        tracer.close(id)
      }
      inv.endNs = System.nanoTime()
      invocations += inv
      inv
    }

    // Catch-up: the backlog lands in drains of `drainFiles` files. Each
    // drain's files land at once and one invocation commits them before
    // the next drain lands.
    val (backlog, live) = plan.splitAt(conf.catchupFiles)
    val drains = backlog.grouped(math.max(1, conf.drainFiles)).toSeq
    val drainDue = drains.map { group =>
      val due = System.nanoTime()
      tracer.span("loadgen.drop")(_ => group.foreach(drop))
      invoke()
      due
    }
    val catchupRows = sink.commits().map(_._2.rows).sum
    val catchupSec = invocations.map(i => (i.endNs - i.startNs) / 1e9).sum
    phase(f"catch-up: $catchupRows rows in $catchupSec%.2f s, drains (s): " +
      invocations.map(i => f"${(i.endNs - i.startNs) / 1e9}%.2f").mkString(" "))

    // Live: drops on a fixed schedule from `live0`; the runner is
    // re-invoked as soon as it returns.
    val periodNs = (1e9 / conf.rate).toLong
    val nLive = math.min(live.size, math.ceil(conf.seconds * conf.rate).toInt)
    val schedule = live.take(nLive)
    val lateMs = new Array[Double](nLive)
    val live0 = System.nanoTime() + 50000000L
    val generator = new Thread(() => {
      schedule.zipWithIndex.foreach { case (f, k) =>
        val due = live0 + k * periodNs
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(due - now)
          now = System.nanoTime()
        }
        tracer.span("loadgen.drop")(_ => drop(f))
        lateMs(k) = (System.nanoTime() - due) / 1e6
      }
    }, "perfbench-loadgen")
    val reader = if (withReader) Some(new Reader(env, sink, tracer, probe)) else None
    val liveInvocations0 = invocations.size
    reader.foreach(_.start())
    if (schedule.nonEmpty) {
      generator.start()
      while (generator.isAlive) invoke()
      generator.join()
      // drain: unless the last invocation already started after the last
      // drop, one more commits the files that arrived during it
      if (invocations.last.droppedBefore < dropped) invoke()
    }
    val liveSec = (System.nanoTime() - live0) / 1e9
    reader.foreach(_.stopAndJoin())
    val liveInvs = invocations.drop(liveInvocations0).toSeq
    phase("live invocations (s): " +
      liveInvs.map(i => f"${(i.endNs - i.startNs) / 1e9}%.2f").mkString(" "))
    probe.finish()

    // Which commit holds each live file, read back from the sink: the
    // id range of every committed data directory.
    val commits = sink.commits()
    val dirVersion = commits.flatMap { case (v, m) => m.files.map(f => sink.dir + "/" + f -> v) }
    val snap = sink.readSnapshot(spark).get
    val byFile = snap.select(col("order_id").cast("long").as("id"), input_file_name().as("f"))
      .groupBy("f").agg(min("id"), max("id"), count(lit(1))).collect()
    val ranges = byFile.map { r =>
      val path = new java.net.URI(r.getString(0)).getPath
      val v = dirVersion.collectFirst { case (d, v) if path.startsWith(d + "/") => v }
        .getOrElse(sys.error(s"data file $path is not in any committed directory"))
      (v, r.getLong(1), r.getLong(2), r.getLong(3))
    }.groupBy(_._1).map { case (v, rs) => v -> (rs.map(_._2).min, rs.map(_._3).max, rs.map(_._4).sum) }
    // every dropped file's ingest-to-visible time, from when it was due
    var mapErrors = 0
    def visibleMs(f: FileSpec, dueNs: Long): Option[Double] =
      ranges.collectFirst { case (v, (lo, hi, _)) if lo <= f.firstId && f.lastId <= hi => v } match {
        case Some(v) if published.containsKey(v) => Some((published.get(v) - dueNs) / 1e6)
        case _ =>
          mapErrors += 1
          System.err.println(s"[perfbench] ${f.name}: no single commit holds all of its ids")
          None
      }
    val drainLatency = drains.zip(drainDue).flatMap { case (group, due) => group.flatMap(visibleMs(_, due)) }
    val freshness = schedule.zipWithIndex.flatMap { case (f, k) => visibleMs(f, live0 + k * periodNs) }
    val totals = snap.agg(count(lit(1)), countDistinct(col("order_id")),
      min(col("order_id").cast("long")), max(col("order_id").cast("long")),
      sum(col("total_revenue"))).head()
    val readerOut = reader.map(_.result()).getOrElse(Map.empty[String, Any])
    val liveRows = sink.commits().map(_._2.rows).sum - catchupRows
    val failedInv = invocations.count(!_.ok)
    // files waiting when each live invocation started: dropped since
    // the previous invocation started (AvailableNow fixes its end offset
    // at start)
    val starts = invocations.drop(liveInvocations0 - 1).map(_.droppedBefore).toSeq
    val backlogs = starts.zip(starts.tail).map { case (a, b) => b - a }
    Map[String, Any]("traced" -> tracer.on,
      "latency_ms" -> freshness,
      "drain_latency_ms" -> drainLatency,
      "catchup_rows" -> catchupRows, "catchup_s" -> catchupSec,
      "live_rows_per_s" -> liveRows / liveSec,
      "files_dropped" -> (backlog.size + nLive),
      "backlog_files" -> backlogs,
      "late_ms" -> lateMs.toSeq,
      "attempted" -> (invocations.size + reader.map(_.attempted).getOrElse(0)),
      "failed" -> (failedInv + mapErrors + reader.map(_.errors).getOrElse(0)),
      "table" -> Map(
        "rows" -> totals.getLong(0), "distinct_ids" -> totals.getLong(1),
        "min_id" -> totals.getLong(2), "max_id" -> totals.getLong(3),
        "revenue" -> totals.getDecimal(4).toPlainString,
        "new_lines" -> (backlog ++ schedule).map(f => f.lastId - f.firstId + 1).sum),
      "reader" -> readerOut,
    ) ++ traceOut(tracer, spans => probe.layers(invocations.toSeq, Some(sink), spans))
  }

  /** The closed-loop reader of `nrt_mixed`: the paper's Q10 view
    * (store × quarter revenue) over the Tx table's current snapshot,
    * read from parquet on disk. */
  final class Reader(env: Env, sink: TxParquetSink, tracer: Tracer, probe: LayerProbe)
      extends Thread("perfbench-reader") {
    @volatile private var stopping = false
    private val latency = ArrayBuffer.empty[Double]
    private val seen = ArrayBuffer.empty[Seq[Any]]
    private var t0, t1 = 0L
    @volatile var errors = 0
    def attempted: Int = latency.size + errors

    override def run(): Unit = {
      t0 = System.nanoTime()
      val spark = env.spark
      while (!stopping) {
        var readMs = 0.0
        var files = 0
        try {
          val q = timedQuery(spark, tracer, probe, "reader.query") {
            val r0 = System.nanoTime()
            val snap = sink.readSnapshot(spark)
            readMs = (System.nanoTime() - r0) / 1e6
            snap.get
              .groupBy("store_id", "store_name", "year", "quarter")
              .agg(sum("total_revenue").as("revenue"), sum("quantity_ordered").as("units"),
                count(lit(1)).as("n"))
              .orderBy("store_name", "year", "quarter")
          }
          if (tracer.on) files = q.df.inputFiles.length
          probe.snapshot(readMs, files)
          latency += q.ms
          val n = q.rows.map(_.getLong(6)).sum
          val rev = q.rows.map(_.getDecimal(4)).foldLeft(java.math.BigDecimal.ZERO)(_ add _)
          seen += Seq(n, rev.movePointRight(2).toBigIntegerExact.toString)
        } catch {
          case e: Exception =>
            errors += 1
            System.err.println(s"[perfbench] reader query failed: $e")
        }
      }
      t1 = System.nanoTime()
    }

    def stopAndJoin(): Unit = { stopping = true; join() }

    def result(): Map[String, Any] = Map(
      "latency_ms" -> latency.toSeq,
      "queries_per_s" -> latency.size / ((t1 - t0) / 1e9),
      "observed" -> seen.toSeq)
  }
}
