package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Microsecond wall clock with monotonic steps, shared by every span so that
  * spans from the harness, the streaming progress log and the Spark listener
  * line up. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** A traced interval. Ids are strings so a span can name its parent before
  * the parent is recorded: `w` is the workload, `<stream>` a streaming phase,
  * `<stream>.t<batch>` a trigger and `<stream>.s<batch>` its sink write,
  * `q<pass>.<query>` a query with `.plan` / `.exec` children, and
  * `j<ctx>.<job>` / `g<ctx>.<stage>` Spark jobs and stages. */
final case class Span(id: String, parent: String, name: String, startUs: Long, endUs: Long)

/** In-memory span store, written out once when the run ends. Recording is
  * off unless the run is traced. */
object Trace {
  @volatile var on: Boolean = false
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(s: Span): Unit = if (on) { spans.add(s); () }
  def all: Seq[Span] = spans.asScala.toSeq

  def timed[T](id: String, parent: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = Clock.nowUs
      try f finally add(Span(id, parent, name, t0, Clock.nowUs))
    }

  /** Local property naming the harness span that encloses a Spark job. */
  val SpanProperty = "perfbench.span"
  /** Local property naming the query group a job's tasks are charged to. */
  val GroupProperty = "perfbench.group"

  def render: Seq[Map[String, Any]] = all.sortBy(_.startUs).map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_us" -> s.startUs, "end_us" -> s.endUs, "run_id" -> runId))
}

/** Executor-side task metrics per query group, plus job and stage spans
  * parented to the harness span named in the job's local properties (or, for
  * a streaming micro-batch, to the trigger named in the job description). */
final class ExecListener(ctx: Int) extends SparkListener {
  import ExecListener._
  private val totals = TrieMap.empty[String, Array[Long]]
  private val stageGroup = TrieMap.empty[Int, String]
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobs = TrieMap.empty[Int, (Long, String)]
  // a micro-batch's jobs carry "<query name>\nid = ..\nrunId = ..\nbatch = <n>"
  private val BatchRe = """(?s)([^\n]*)\n.*\nbatch = (\d+).*""".r

  def snapshot: Map[String, Map[String, Long]] = synchronized {
    totals.map { case (g, a) => g -> Fields.zip(a).toMap }.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val group = prop(Trace.GroupProperty).getOrElse("other")
    val parent = prop(Trace.SpanProperty).getOrElse {
      prop("spark.job.description") match {
        case Some(BatchRe(q, b)) => s"$q.t$b"
        case _ => "w"
      }
    }
    e.stageIds.foreach { s => stageGroup.put(s, group); stageJob.putIfAbsent(s, e.jobId) }
    jobs.put(e.jobId, (e.time, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { case (t0, parent) =>
      Trace.add(Span(s"j$ctx.${e.jobId}", parent, "job", t0 * 1000L, e.time * 1000L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime; j <- stageJob.get(i.stageId))
      Trace.add(Span(s"g$ctx.${i.stageId}.${i.attemptNumber()}", s"j$ctx.$j", "stage", s * 1000L, c * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val a = totals.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "other"), new Array[Long](Fields.length))
      a(0) += m.executorRunTime
      a(1) += m.executorCpuTime
      a(2) += m.jvmGCTime
      a(3) += 1
      a(4) += m.shuffleWriteMetrics.bytesWritten
      a(5) += m.shuffleReadMetrics.totalBytesRead
      a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object ExecListener {
  val Fields: Seq[String] = Seq("task_run_ms", "task_cpu_ns", "gc_ms", "tasks",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
}
