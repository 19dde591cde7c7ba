package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.metrics.Metrics
import graft.table.{ExactlyOnceSink, GraftTable}

/** One sink call: batch id and the microsecond wall times around
  * `ExactlyOnceSink.write`. */
final case class SinkCall(batchId: Long, startUs: Long, endUs: Long)

/** Runs `Metrics.Listener` as the engine's `--job` mains do, timing each
  * progress callback from outside. */
final class TimedMetricsListener(inner: Metrics.Listener) extends StreamingQueryListener {
  val nanos = new AtomicLong(0L)
  val calls = new AtomicLong(0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = inner.onQueryStarted(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = inner.onQueryTerminated(e)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    try inner.onQueryProgress(e)
    finally { nanos.addAndGet(System.nanoTime() - t0); calls.incrementAndGet(); () }
  }
}

/** A file-source stream through a job shape into an `ExactlyOnceSink`, the
  * way `graft.Main` wires a `--job`: files are admitted from `watchDir`, and
  * `afterWrite` runs on the stream thread once a batch's sink write returns
  * (the closed-loop feeder uses it to release the next files). */
final class StreamRun(spark: SparkSession, work: Path, job: String, schemaFrom: Path,
                      maxFilesPerTrigger: Int, trigger: Trigger)
                     (shape: DataFrame => DataFrame) {
  val watchDir: Path = Inputs.dir(work.resolve("watch"))
  val tableDir: Path = work.resolve("table")
  val checkpoint: Path = work.resolve("checkpoint")
  val table = new GraftTable(tableDir.toString)
  private val sink = new ExactlyOnceSink(table)
  val sinkCalls = new ConcurrentLinkedQueue[SinkCall]()
  @volatile var afterWrite: Long => Unit = _ => ()
  val metricsListener = new TimedMetricsListener(
    new Metrics.Listener(persistRoot = Some(tableDir.toString), jmxName = Some(s"perfbench-$job")))
  private var query: StreamingQuery = _
  /** Query name, and the prefix of this stream's span ids. */
  val tag: String = work.getFileName.toString
  private val seq = new AtomicLong(0L)

  /** Hard-link `src` into the watch directory under a fresh name. */
  def release(src: Path): Path = {
    val dst = watchDir.resolve(f"w${seq.getAndIncrement()}%06d-${src.getFileName}")
    Files.createLink(dst, src)
  }

  private val schema = spark.read.parquet(schemaFrom.toString).schema

  def start(): StreamingQuery = {
    spark.streams.addListener(metricsListener)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong)
      .parquet(watchDir.toString)
    val sc = spark.sparkContext
    query = shape(stream).writeStream
      .queryName(tag)
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch((df: DataFrame, id: Long) => {
        sc.setLocalProperty(Trace.SpanProperty, s"$tag.s$id")
        val t0 = Clock.nowUs
        try sink.write(df, id)
        finally {
          val t1 = Clock.nowUs
          sc.setLocalProperty(Trace.SpanProperty, null)
          sinkCalls.add(SinkCall(id, t0, t1))
          Trace.add(Span(s"$tag.s$id", s"$tag.t$id", "sink.write", t0, t1))
        }
        afterWrite(id)
      })
      .trigger(trigger)
      .start()
    query
  }

  /** Wait until `n` sink calls have returned (or the query died). */
  def awaitBatches(n: Int, timeoutMs: Long = 120000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (sinkCalls.size < n && query.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    query.exception.foreach(e => throw e)
    require(sinkCalls.size >= n, s"$job: only ${sinkCalls.size} of $n batches within ${timeoutMs} ms")
  }

  /** Drain whatever was released, then stop the query and detach the listener. */
  def finish(): Unit = {
    try query.processAllAvailable()
    finally {
      query.stop()
      spark.streams.removeListener(metricsListener)
    }
  }

  /** Progress of every batch that ran, one per batch id. */
  def progress: Seq[StreamingQueryProgress] =
    query.recentProgress.filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)

  def calls: Seq[SinkCall] = sinkCalls.asScala.toSeq.sortBy(_.batchId)
}

object StreamRun {
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue().toDouble).getOrElse(0.0)

  def startUs(p: StreamingQueryProgress): Long = {
    val i = java.time.Instant.parse(p.timestamp)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Trigger spans from the engine's progress log, under the phase span. */
  def traceTriggers(ps: Seq[StreamingQueryProgress]): Unit =
    ps.foreach { p =>
      val s = startUs(p)
      Trace.add(Span(s"${p.name}.t${p.batchId}", p.name, "trigger", s,
        s + (dur(p, "triggerExecution") * 1000).toLong))
    }
}

/** Closed-loop feeder: places up to `perBatch` files for the next batch
  * each time a sink write returns, until `stop` is set or `place` runs dry.
  * `place` puts one file into the watch directory and returns its
  * (watch name, source name). */
final class ClosedLoop(run: StreamRun, place: () => Option[(String, String)], perBatch: Int) {
  val stop = new AtomicBoolean(false)
  val released = new ConcurrentLinkedQueue[(String, String)]()
  def feed(): Int = {
    var k = 0
    var more = true
    while (more && k < perBatch) place() match {
      case Some(x) => released.add(x); k += 1
      case None => more = false
    }
    k
  }
  run.afterWrite = _ => if (!stop.get()) { feed(); () }
}
