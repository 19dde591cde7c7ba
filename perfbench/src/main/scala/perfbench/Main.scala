package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.SparkEntry
import graft.audio.ClipTable
import graft.metrics.Metrics
import graft.operators.{Cep, Dedup, Pipeline}
import graft.streaming.StreamingJobs

/** Benchmark driver for one workload run. Measures, checks and writes the raw
  * samples as JSON to `--out`; `run.py` turns them into the metric line.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --out <file> [--queries all|<q1,q2,..>]
  */
object Main {

  // ---- sizes (fixed here so every run of a workload does the same work) ----
  /** Seed of the synthetic tables; `--seed` drives staging, cuts and order. */
  val DataSeed = 42L
  val MonthS: Long = 30L * 24 * 3600
  /** `ingest` replays this many micro-batches before its window opens. */
  val WarmBatches = 5
  // ingest: a 16-file pool (60k clips) replayed whole as each micro-batch
  val BacklogEvents = 60000L
  val BacklogFiles = 16
  /** Length of the trickle phase and the width-1 replay of a traced run. */
  val PhaseS = 8.0
  // trickle phase: 160-clip files released at 25 files/s, open loop
  val TrickleEvents = 4000L
  val TrickleFiles = 25
  val TrickleFilesPerS = 25.0
  // cep phase: all of 48 files of 4000 clips in event-time order (100k
  // clips per event-time hour, so a file spans 2.4 min), 6 files a batch;
  // 5% of the A/B rows move 1..6 files later; the batches of the first 5 s
  // warm up
  val CepFileRows = 4000
  val CepFiles = 48
  val CepPerBatch = 6
  val CepUsers = 5000
  val CepDisplacedShare = 0.05
  val CepMaxShift = 6
  val CepWarmS = 5.0
  // batch_queries: tables the size of the engine's sf0.01 fixtures. After
  // one warm-up pass the next still ran 4-12% slower than the one after it
  // and spread more between runs (perfbench/README.md), so there are two.
  val BatchScale: (Long, Int, Int) = (10000L, 500, 500)
  val WarmPasses = 2

  /** The queries `batch_queries` runs unless `--queries` names others: in
    * each group, the heaviest queries of a full warm pass, taken until they
    * cover a quarter of the group's time (perfbench/README.md). */
  val Selected: Seq[String] = Seq("mm_audio_features", "mm_loudnorm",
    "dedup_simhash_pairs", "dedup_minhash_lsh",
    "agg_approx_distinct", "w_tumbling_salted_hll", "w_tumbling_salted")

  /** Query group: audio is `pcm_decode_meta`, `mm_*` and `dedup_audio_fp`;
    * text is `txt_*`, `td_*`, `sim_*` and the other `dedup_*`; event is
    * the rest. */
  def groupOf(q: String): String =
    if (q == "pcm_decode_meta" || q.startsWith("mm_") || q == "dedup_audio_fp") "audio"
    else if (Seq("txt_", "td_", "sim_", "dedup_").exists(q.startsWith)) "text"
    else "event"

  val Groups: Seq[String] = Seq("audio", "text", "event")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path, queries: Seq[String])

  /** Everything the run reports; rendered as the raw result JSON. */
  final class Result {
    val fields = mutable.LinkedHashMap[String, Any]()
    val checks = mutable.LinkedHashMap[String, Map[String, Any]]()
    val layers = mutable.LinkedHashMap[String, Double]()
    var attempted = 0L
    var failed = 0L
    def update(k: String, v: Any): Unit = fields(k) = v
    def check(name: String, ok: Boolean, detail: String): Unit = {
      checks(name) = Map("ok" -> ok, "detail" -> detail)
      if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val queries = m.get("queries") match {
      case None => Selected
      case Some("all") => SparkEntry.queries.keys.toSeq.sorted
      case Some(qs) => qs.split(",").toSeq
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")), queries)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val r = new Result
    // JVM start up to here: the first part of setup_s
    r("jvm_start_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    r("workload") = a.workload
    r("seed") = a.seed
    r("trace") = a.trace
    r("host_before") = host()
    Files.createDirectories(a.work)
    val w0 = Clock.nowUs
    try a.workload match {
      case "ingest" => ingest(a, r)
      case "batch_queries" => batchQueries(a, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.failed += 1
        r.check("run", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    r("host_after") = host()
    r("attempted") = r.attempted
    r("failed") = r.failed
    r("checks") = r.checks
    r("layers") = r.layers
    if (a.trace) {
      Trace.on = true
      Trace.add(Span("w", "", s"workload:${a.workload}", w0, Clock.nowUs))
      val tf = a.work.resolve(s"trace-${a.workload}-${a.seed}.json")
      writeJson(tf, Trace.render)
      r("trace_file") = tf.toString
      r("spans") = Trace.all.size
    }
    writeJson(a.out, r.fields)
    System.exit(0)
  }

  // ---------------------------------------------------------------- common

  def host(): Map[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "load_avg_1m" -> os.getSystemLoadAverage,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}")
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Live heap after a full collection, in MB. The first collection lets
    * Spark's context cleaner drop blocks of unreferenced broadcasts and
    * shuffles; the second measures what is left. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private var contexts = 0

  /** The session every workload uses: the engine's `Bench`/`Main` settings at
    * width `local[width]`, with all scratch space inside the work directory. */
  def session(width: Int, work: Path): SparkSession = {
    contexts += 1
    val s = SparkSession.builder()
      .master(s"local[$width]")
      .appName(s"perfbench-$width")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.AudioFunctions.register(s)
    s
  }

  /** Start the session cold (`session_start_s`), then stage the inputs
    * (`staging_s`). */
  def setup[T](a: Args, r: Result, width: Int)(stage: (SparkSession, Path) => T): (SparkSession, T) = {
    val t0 = System.nanoTime()
    val s = session(width, a.work)
    val t1 = System.nanoTime()
    val v = stage(s, Inputs.dir(a.work.resolve("stage")))
    r("session_start_s") = (t1 - t0) / 1e9
    r("staging_s") = (System.nanoTime() - t1) / 1e9
    (s, v)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def sleepUntilUs(t: Long): Unit = {
    var d = t - Clock.nowUs
    while (d > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(d * 1000L)
      d = t - Clock.nowUs
    }
  }

  def eventsShape(spark: SparkSession)(clips: DataFrame): DataFrame =
    Metrics.observeEvents(StreamingJobs.eventsObserved(spark, clips))

  def cepShape(spark: SparkSession)(clips: DataFrame): DataFrame =
    StreamingJobs.streamingCep(spark, eventsShape(spark)(clips)).toDF()

  /** Start tracing: spans on, executor listener attached. */
  def traceOn(spark: SparkSession): ExecListener = {
    val l = new ExecListener(contexts)
    spark.sparkContext.addSparkListener(l)
    Trace.on = true
    l
  }

  /** Trigger, source, table and listener numbers of one traced stream. */
  def triggerLayers(r: Result, ps: Seq[StreamingQueryProgress], run: StreamRun): Unit = {
    import StreamRun.dur
    def med(k: String) = median(ps.map(dur(_, k)))
    r.layers ++= Seq(
      "trigger.planning_ms" -> med("queryPlanning"),
      "trigger.wal_commit_ms" -> med("walCommit"),
      "trigger.commit_offsets_ms" -> med("commitOffsets"),
      "trigger.add_batch_ms" -> med("addBatch"),
      "trigger.driver_serial_ms" -> median(ps.map(p => dur(p, "triggerExecution") - dur(p, "addBatch"))),
      "trigger.batches" -> ps.size.toDouble,
      "trigger.rows_per_batch" -> median(ps.map(_.numInputRows.toDouble)),
      "source.latest_offset_ms" -> med("latestOffset"),
      "source.get_batch_ms" -> med("getBatch"))
    val ids = ps.map(_.batchId).toSet
    r.layers("table.sink_write_ms") = median(run.calls.filter(c => ids(c.batchId)).map(c => (c.endUs - c.startUs) / 1000.0))
    // GraftTable's own commit-phase clocks, averaged over every commit of the run
    val commits = run.table.commitPhaseCount.get()
    r.layers("table.commits") = commits.toDouble
    Seq("write", "footers", "meta").foreach { k =>
      r.layers(s"table.commit_${k}_ms") =
        if (commits > 0) run.table.commitPhaseNanos.getOrElse(k, 0L) / 1e6 / commits else 0.0
    }
    val files = run.table.manifestsUpTo(run.table.version)
      .filter(m => ids.exists(id => m == s"manifest-$id.json")).map(run.table.manifestFiles)
    r.layers("table.files_per_commit") = if (files.isEmpty) 0.0 else files.map(_.size).sum.toDouble / files.size
    r.layers("table.bytes_per_commit") = if (files.isEmpty) 0.0 else files.map(_.map(_.bytes).sum).sum.toDouble / files.size
    val l = run.metricsListener
    r.layers("metrics.listener_ms") = if (l.calls.get() == 0) 0.0 else l.nanos.get() / 1e6 / l.calls.get()
    StreamRun.traceTriggers(ps)
  }

  def execLayers(r: Result, snap: Map[String, Map[String, Long]], wallS: Double): Unit = {
    def sum(k: String) = snap.values.map(_.getOrElse(k, 0L)).sum.toDouble
    r.layers ++= Seq(
      "exec.task_run_ms" -> sum("task_run_ms"),
      "exec.task_cpu_ms" -> sum("task_cpu_ns") / 1e6,
      "exec.gc_ms" -> sum("gc_ms"),
      "exec.tasks" -> sum("tasks"),
      "exec.busy_frac" -> (if (wallS > 0) sum("task_run_ms") / 1000.0 / (nproc * wallS) else 0.0),
      "exec.shuffle_write_bytes" -> sum("shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> sum("shuffle_read_bytes"),
      "exec.spill_bytes" -> sum("spill_bytes"))
  }

  /** Exactly-once checks of an ingest stream: those of `checkStream`, and
    * the committed rows equal a batch `Pipeline.events` count over the rows
    * the stream was given. */
  def checkIngest(spark: SparkSession, r: Result, name: String, run: StreamRun, pool: Seq[Path],
                  released: Seq[(String, String)]): Unit = {
    val clips = spark.read.parquet(pool.map(_.toString): _*)
    val fileOf = clips.select(col("clip_id"), element_at(split(input_file_name(), "/"), -1).as("src"))
    val perFile = Pipeline.events(spark, clips).groupBy("clip_id").count()
      .join(fileOf, "clip_id").groupBy("src").agg(sum("count").as("n"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val expected = released.map { case (_, src) => perFile.getOrElse(src, 0L) }.sum
    val committed = run.table.committedRows
    r.check(s"$name.exactly_once_rows", committed == expected,
      s"committed $committed rows, batch Pipeline.events over the released files gives $expected")
    checkStream(r, name, run, released, Some(perFile))
  }

  /** Committed batch ids run 0..n-1. The released files, the rows each
    * manifest commits for its batch ids and, when known, the rows each
    * source file should give go to `streams` for the per-batch check in
    * run.py against the offset log. */
  def checkStream(r: Result, name: String, run: StreamRun, released: Seq[(String, String)],
                  perFile: Option[Map[String, Long]]): Unit = {
    val ids = run.table.committedBatchIds
    r.check(s"$name.batch_ids_contiguous", ids == (0L until ids.size.toLong).toSet,
      s"${ids.size} committed batch ids, max ${if (ids.isEmpty) -1 else ids.max}")
    val committed = run.table.manifestsUpTo(run.table.version).map(run.table.manifest)
      .map(m => Map("batch_ids" -> m.batchIds, "rows" -> m.rows))
    val all = r.fields.getOrElseUpdate("streams", mutable.LinkedHashMap[String, Any]())
      .asInstanceOf[mutable.LinkedHashMap[String, Any]]
    all(name) = Map("checkpoint" -> run.checkpoint.toString, "committed" -> committed,
      "released" -> released.map(x => Seq(x._1, x._2)), "events_per_file" -> perFile)
  }

  /** A closed-loop window: the measured batches, their wall span and their
    * input rows. */
  final case class LoopStats(batches: Seq[StreamingQueryProgress], windowS: Double, rows: Long) {
    def rate: Double = if (windowS > 0) rows / windowS else 0.0
  }

  /** Closed-loop replay: the feeder releases the next batch whenever a sink
    * write returns. The first `warmBatches` batches warm up. Then `windows`
    * windows follow one another: each opens at a sink return and closes at
    * the first sink return `seconds` or more later; `beforeWindow(k)` runs
    * as window k opens. Returns when the first window opened, and the
    * windows. */
  def closedLoop(run: StreamRun, loop: ClosedLoop, warmBatches: Int, seconds: Double,
                 windows: Int = 1)(beforeWindow: Int => Unit = _ => ()): (Long, Seq[LoopStats]) = {
    require(loop.feed() > 0, "nothing staged")
    run.start()
    run.awaitBatches(warmBatches)
    val bounds = mutable.ArrayBuffer(run.calls(warmBatches - 1))
    (0 until windows).foreach { k =>
      beforeWindow(k)
      val due = bounds.last.endUs + (seconds * 1e6).toLong
      sleepUntilUs(due)
      def closed = run.calls.find(_.endUs >= due)
      while (closed.isEmpty) run.awaitBatches(run.calls.size + 1)
      bounds += closed.get
    }
    loop.stop.set(true)
    run.finish()
    val ps = run.progress
    (bounds.head.endUs, bounds.toSeq.sliding(2).map { case Seq(open, close) =>
      val in = ps.filter(p => p.batchId > open.batchId && p.batchId <= close.batchId)
      LoopStats(in, (close.endUs - open.endUs) / 1e6, in.map(_.numInputRows).sum)
    }.toSeq)
  }

  /** Replay of a fixed pool: every batch re-releases the whole pool under
    * fresh names. */
  def poolLoop(run: StreamRun, pool: IndexedSeq[Path]): ClosedLoop = {
    var i = 0
    new ClosedLoop(run, () => {
      val src = pool(i % pool.size)
      i += 1
      Some((run.release(src).getFileName.toString, src.getFileName.toString))
    }, pool.size)
  }

  /** Release `files` in order, `perBatch` at a time, until they run out. */
  def seqLoop(run: StreamRun, files: IndexedSeq[Path], perBatch: Int): ClosedLoop = {
    val it = files.iterator
    new ClosedLoop(run, () =>
      if (it.hasNext) {
        val src = it.next()
        Some((run.release(src).getFileName.toString, src.getFileName.toString))
      } else None, perBatch)
  }

  // ------------------------------------------------------------- workloads

  /** `--job events` into the exactly-once table, closed loop over a staged
    * pool replayed whole as each micro-batch. A traced run follows the
    * untraced window with a traced one (the tracing overhead) and adds three
    * phases the untraced runs skip: an open-loop trickle under the
    * continuous trigger (freshness), streaming CEP over disordered input,
    * and the backlog replay at width 1. */
  def ingest(a: Args, r: Result): Unit = {
    val (spark, (pool, small, cepFiles)) = setup(a, r, nproc) { (s, d) =>
      def events(name: String, n: Long, spanS: Long, users: Int) = {
        Inputs.writeEvents(s, d.resolve(name).toString, n, spanS, users, DataSeed)
        d.resolve(name).toString
      }
      val pool = Inputs.stageIngest(s, events("base", BacklogEvents, MonthS, 1500), d.resolve("pool"),
        BacklogFiles, a.seed)
      if (!a.trace) (pool, IndexedSeq.empty[Path], IndexedSeq.empty[Path])
      else {
        val nCep = CepFileRows.toLong * CepFiles
        (pool,
          Inputs.stageIngest(s, events("small", TrickleEvents, MonthS, 1500), d.resolve("trickle"),
            TrickleFiles, a.seed),
          // 100k clips per event-time hour: a row moved CepMaxShift files
          // later stays well inside the 1 h watermark
          Inputs.stageCep(s, events("cep", nCep, nCep * 36 / 1000, CepUsers), d.resolve("staged"),
            CepFiles, nCep, CepDisplacedShare, CepMaxShift, a.seed))
      }
    }
    val warm0 = Clock.nowUs
    def backlogRun(s: SparkSession, dir: String) =
      new StreamRun(s, Inputs.dir(a.work.resolve(dir)), "events", pool.head, pool.size,
        Trigger.ProcessingTime(0))(eventsShape(s))
    val bl = backlogRun(spark, "backlog")
    val blLoop = poolLoop(bl, pool)
    var listener: Option[ExecListener] = None
    var tracedFrom = 0L
    val (openUs, windows) = closedLoop(bl, blLoop, WarmBatches, a.seconds, if (a.trace) 2 else 1) {
      case 1 =>
        listener = Some(traceOn(spark))
        tracedFrom = Clock.nowUs
      case _ =>
    }
    val tracedTo = Clock.nowUs
    r("warmup_s") = (openUs - warm0) / 1e6
    val st = windows.head
    // the measured batches are the operations
    r.attempted += st.batches.size
    r("ops_ms") = st.batches.map(StreamRun.dur(_, "triggerExecution"))
    r("warmup_ops_ms") = bl.progress.filter(_.batchId < WarmBatches).map(StreamRun.dur(_, "triggerExecution"))
    r("work_items") = st.rows
    r("window_s") = st.windowS
    r("unit") = "clips"
    r("heap_live_mb") = Seq(liveHeapMb())
    checkIngest(spark, r, "backlog", bl, pool, blLoop.released.asScala.toSeq)
    listener.foreach { l =>
      val traced = windows(1)
      r("traced_rate") = traced.rate
      Trace.add(Span(bl.tag, "w", "phase", tracedFrom, tracedTo))
      StreamRun.traceTriggers(traced.batches)
      execLayers(r, l.snapshot, (tracedTo - tracedFrom) / 1e6)
      r.layers ++= Seq(
        "backlog.add_batch_ms" -> median(traced.batches.map(StreamRun.dur(_, "addBatch"))),
        "backlog.rows_per_batch" -> median(traced.batches.map(_.numInputRows.toDouble)),
        "backlog.sink_write_ms" -> median(bl.calls.drop(WarmBatches).map(c => (c.endUs - c.startUs) / 1000.0)),
        "backlog.commit_write_ms" -> bl.table.commitPhaseNanos.getOrElse("write", 0L) / 1e6 /
          math.max(1L, bl.table.commitPhaseCount.get()))
      trickle(a, r, spark, small)
      cep(a, r, spark, cepFiles)
      // the single-thread baseline over the same pool, untraced
      Trace.on = false
      spark.stop()
      val s1 = session(1, a.work)
      val one = backlogRun(s1, "backlog-1t")
      val st1 = closedLoop(one, poolLoop(one, pool), 1, PhaseS)()._2.head
      r.layers("ingest.clips_per_s_1t") = st1.rate
      r.layers("ingest.scaling_eff") = if (st1.rate > 0) st.rate / st1.rate / nproc else 0.0
      Trace.on = true
    }
  }

  /** Open loop: file k of the small pool is due at start + k / rate, whatever
    * the stream does, under the engine's continuous trigger (`graft.Main
    * --continuous`). Freshness runs from a file's due time to the sink
    * return of the batch that took it (computed by run.py). */
  def trickle(a: Args, r: Result, spark: SparkSession, small: IndexedSeq[Path]): Unit = {
    val tr = new StreamRun(spark, Inputs.dir(a.work.resolve("trickle")), "events", small.head,
      100000, Trigger.ProcessingTime("1 second"))(eventsShape(spark))
    var i = 0
    val released = mutable.ArrayBuffer[(String, String)]()
    def place(): String = {
      val src = small(i % small.size)
      i += 1
      val name = tr.release(src).getFileName.toString
      released += ((name, src.getFileName.toString))
      name
    }
    place()
    tr.start()
    tr.awaitBatches(1)
    place()
    tr.awaitBatches(2)
    val periodUs = (1e6 / TrickleFilesPerS).toLong
    val n = (PhaseS * TrickleFilesPerS).round.toInt
    val startUs = Clock.nowUs + periodUs
    val gen = Trace.timed(tr.tag, "w", "phase") {
      val g = (0 until n).map { k =>
        val due = startUs + k * periodUs
        sleepUntilUs(due)
        Seq(place(), due, Clock.nowUs)
      }
      tr.finish()
      g
    }
    r("generated") = gen
    r("sink_calls") = tr.calls.map(c => Seq(c.batchId, c.startUs, c.endUs))
    triggerLayers(r, tr.progress.filter(_.batchId >= 2), tr)
    checkIngest(spark, r, "trickle", tr, small, released.toSeq)
  }

  /** Events into streaming CEP, closed loop over files staged in event-time
    * order with a seeded share of A/B rows moved later, until every staged
    * file is processed. Every batch takes the next `CepPerBatch` files
    * whatever the timing, so the batch cuts — and the oracle mismatch —
    * repeat for a seed. Batches returning within `CepWarmS` warm up; the
    * rest give `cep.clips_per_s`. */
  def cep(a: Args, r: Result, spark: SparkSession, files: IndexedSeq[Path]): Unit = {
    val cep = new StreamRun(spark, Inputs.dir(a.work.resolve("cep")), "cep", files.head,
      CepPerBatch, Trigger.ProcessingTime(0))(cepShape(spark))
    val loop = seqLoop(cep, files, CepPerBatch)
    val warmEnd = Clock.nowUs + (CepWarmS * 1e6).toLong
    val st = Trace.timed(cep.tag, "w", "phase") {
      loop.feed()
      cep.start()
      while (loop.released.size < files.size) cep.awaitBatches(cep.calls.size + 1)
      cep.finish()
      val open = cep.calls.find(_.endUs >= warmEnd).getOrElse(cep.calls.last)
      val ps = cep.progress.filter(p => p.batchId > open.batchId && p.numInputRows > 0)
      LoopStats(ps, (cep.calls.last.endUs - open.endUs) / 1e6, ps.map(_.numInputRows).sum)
    }
    val released = loop.released.asScala.toSeq
    checkStream(r, "cep", cep, released, None)
    val dropped = cep.progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    r.check("cep.no_rows_dropped_by_watermark", dropped == 0, s"$dropped rows dropped by the watermark")
    def keyed(df: DataFrame) = df.select(concat_ws("|", col("event_key"), col("b_clip_id"),
      col("a_ts_s").cast("string"), col("b_ts_s").cast("string"))).collect().map(_.getString(0)).toSeq
    val fed = released.map(x => cep.watchDir.resolve(x._1).toString)
    val streamed = keyed(cep.table.read(spark))
    val oracle = keyed(Cep.detectBatch(StreamingJobs.events(spark, spark.read.parquet(fed: _*))))
    r.check("cep.exactly_once_rows", cep.table.committedRows == streamed.size,
      s"committed ${cep.table.committedRows} rows, ${streamed.size} detections read back")
    r("stream_detections") = streamed
    r("oracle_detections") = oracle
    StreamRun.traceTriggers(st.batches)
    val ops = st.batches.flatMap(_.stateOperators)
    r.layers ++= Seq(
      "cep.clips_per_s" -> st.rate,
      "cep.batch_ms" -> median(st.batches.map(StreamRun.dur(_, "triggerExecution"))),
      "cep.detections" -> streamed.size.toDouble,
      "state.rows_total" -> st.batches.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L).toDouble,
      "state.rows_updated" -> ops.map(_.numRowsUpdated).sum.toDouble,
      "state.rows_removed" -> ops.map(_.numRowsRemoved).sum.toDouble,
      "state.memory_bytes" -> st.batches.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L).toDouble,
      "state.commit_ms" -> median(st.batches.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "state.rows_dropped_by_watermark" -> dropped.toDouble)
  }

  /** `SparkEntry.queries` over tables of the sf0.01 fixture size:
    * `WarmPasses` warm-up passes, then whole passes in seed order until
    * `--seconds` are used up, at least one. A traced run follows them with
    * as many traced passes (the tracing overhead). */
  def batchQueries(a: Args, r: Result): Unit = {
    def tables(s: SparkSession, d: Path, scale: (Long, Int, Int)): String = {
      val dir = d.toString
      Inputs.writeEvents(s, dir, scale._1, MonthS, 1500, DataSeed)
      Inputs.writeDocuments(s, dir, scale._2, DataSeed)
      Inputs.writeEmbeddings(s, dir, scale._3, DataSeed)
      dir
    }
    val (spark, dir) = setup(a, r, nproc)((s, d) => tables(s, d, BatchScale))
    val sc = spark.sparkContext
    val names = a.queries
    val groups = Groups.map(g => g -> names.filter(groupOf(_) == g)).filter(_._2.nonEmpty)

    /** Plan and execute one query the way Bench part 1 does: (plan s, exec s, rows). */
    def runQuery(name: String, sfDir: String, id: String): (Double, Double, Long) = {
      sc.setLocalProperty(Trace.GroupProperty, groupOf(name))
      try {
        val t0 = System.nanoTime()
        sc.setLocalProperty(Trace.SpanProperty, s"$id.plan")
        val df = Trace.timed(s"$id.plan", id, "plan") {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.executedPlan
          df
        }
        val t1 = System.nanoTime()
        sc.setLocalProperty(Trace.SpanProperty, s"$id.exec")
        val n = Trace.timed(s"$id.exec", id, "execute") {
          try df.queryExecution.toRdd.count() finally Dedup.releaseCaches()
        }
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, n)
      } finally {
        sc.setLocalProperty(Trace.SpanProperty, null)
        sc.setLocalProperty(Trace.GroupProperty, null)
      }
    }

    // warm-up: passes over the same tables (a pass over tables a tenth the
    // size costs about as much: fixed per-query costs dominate at this
    // scale), with a collection before each query as in the measured passes
    val t0 = System.nanoTime()
    for (w <- 0 until WarmPasses; n <- names) {
      System.gc()
      try runQuery(n, dir, s"warm$w.$n")
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $n failed: ${e.getMessage}") }
    }
    r("warmup_s") = (System.nanoTime() - t0) / 1e9

    val order = new scala.util.Random(a.seed).shuffle(names)
    r("order") = order
    type Pass = Map[String, (Double, Double, Long)]
    /** One pass in seed order; a failed query counts and records no time. */
    def pass(p: Int): Pass = order.flatMap { n =>
      r.attempted += 1
      System.gc() // between queries, outside the timed region
      val id = s"q$p.$n"
      try Some(n -> Trace.timed(id, "w", s"query:$n")(runQuery(n, dir, id)))
      catch { case e: Exception =>
        r.failed += 1
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        None
      }
    }.toMap
    /** Whole passes until the run's seconds are used up, at least `min`. */
    def passes(first: Int, min: Int): Seq[Pass] = {
      val out = mutable.ArrayBuffer[Pass]()
      val start = System.nanoTime()
      while (out.size < min || (System.nanoTime() - start) / 1e9 < a.seconds) {
        out += pass(first + out.size)
        System.err.println(f"[perfbench] pass ${first + out.size - 1}: ${out.last.values.map(x => x._1 + x._2).sum}%.2f s")
      }
      out.toSeq
    }
    /** Per query, the median over passes of `f`. */
    def per(ps: Seq[Pass])(f: ((Double, Double, Long)) => Double): Map[String, Double] =
      names.filter(n => ps.exists(_.contains(n))).map(n => n -> median(ps.flatMap(_.get(n)).map(f))).toMap

    val measured = passes(0, 1)
    // the live heap is taken after the measured passes, outside any timing
    r("heap_live_mb") = Seq(liveHeapMb())
    val perQuery = per(measured)(x => x._1 + x._2)
    r("passes") = measured.size
    r("ops_ms") = perQuery.values.map(_ * 1000).toSeq
    r("work_items") = perQuery.size.toLong
    r("window_s") = perQuery.values.sum
    r("unit") = "queries"
    r("counts") = measured.head.map { case (n, (_, _, c)) => n -> c }
    r("query_s") = perQuery
    r("groups") = groups.toMap

    if (a.trace) {
      val l = traceOn(spark)
      val t1 = System.nanoTime()
      val traced = passes(measured.size, measured.size)
      val wallS = (System.nanoTime() - t1) / 1e9
      val tracedQuery = per(traced)(x => x._1 + x._2)
      val tracedPlan = per(traced)(_._1)
      r("traced_rate") = tracedQuery.size / tracedQuery.values.sum
      execLayers(r, l.snapshot, wallS)
      groups.foreach { case (g, qs) =>
        r.layers(s"batch.${g}_plan_ms") = qs.flatMap(tracedPlan.get).sum * 1000
        r.layers(s"batch.${g}_queries_s") = qs.flatMap(tracedQuery.get).sum
      }
      names.foreach(n => r.layers(s"q.${n}_s") = tracedQuery.getOrElse(n, 0.0))
      // samples the audio kernels walk per query: sr_hz × dur_ms of gated clips
      val samples = ClipTable.clips(spark, dir).filter(Pipeline.gate)
        .agg(sum(expr("CAST(sr_hz AS BIGINT) * dur_ms DIV 1000"))).head().getLong(0)
      val audioCpuNs = l.snapshot.get("audio").flatMap(_.get("task_cpu_ns")).getOrElse(0L).toDouble
      val audioQueries = names.count(groupOf(_) == "audio") * traced.size
      r.layers("audio.task_cpu_ms") = audioCpuNs / 1e6 / traced.size
      r.layers("audio.cpu_ns_per_sample") =
        if (audioQueries > 0) audioCpuNs / (samples.toDouble * audioQueries) else 0.0
    }
  }
}
