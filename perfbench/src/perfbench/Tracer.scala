package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's span collector.
  *
  * Spans nest workload → query {construct, execute} → job → stage for batch
  * work and workload → trigger → sink callback → job → stage for streaming.
  * Each span carries (id, parent, name, layer, start, end, run). Spans are
  * held in memory and written to the record log by [[finish]], so tracing
  * adds no I/O to the measured section.
  *
  * Parents of Spark jobs come from the submitting thread's local
  * properties: [[span]] publishes the open span's id as `perfbench.span`,
  * and a job submitted by the streaming engine outside any callback hangs
  * off its trigger through the job group (the streaming run id) and
  * `streaming.sql.batchId` properties.
  */
final class Tracer(spark: SparkSession, rec: Records) {
  import Tracer._

  val runId: String = spark.sparkContext.applicationId
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val qeEvents = ArrayBuffer.empty[Seq[(String, Any)]]
  private val stack = new ThreadLocal[List[String]] { override def initialValue() = Nil }
  private val jobParent = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Double]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  def add(s: Span): Unit = spans.synchronized { spans += s }


  /** The calling thread's innermost open span. */
  def current: Option[String] = stack.get().headOption

  /** Time `body` as a span under the calling thread's open span. */
  def span[A](name: String, layer: String, parent: Option[String] = None)(body: => A): A = {
    val id = s"s${ids.incrementAndGet()}"
    val sc = spark.sparkContext
    val outer = stack.get()
    val prevProp = sc.getLocalProperty(SpanKey)
    stack.set(id :: outer)
    sc.setLocalProperty(SpanKey, id)
    val t0 = Clock.nowMs
    try body
    finally {
      add(Span(id, parent.orElse(outer.headOption), name, layer, t0, Clock.nowMs, Map.empty))
      stack.set(outer)
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val parent = prop(SpanKey).orElse(
        for (run <- prop("spark.jobGroup.id"); b <- prop("streaming.sql.batchId"))
          yield triggerId(run, b.toLong)).getOrElse("")
      jobParent.put(e.jobId, parent)
      jobStart.put(e.jobId, Clock.nowMs)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStart.remove(e.jobId)).map(_.doubleValue).getOrElse(Clock.nowMs)
      val parent = Option(jobParent.remove(e.jobId)).filter(_.nonEmpty)
      add(Span(s"j${e.jobId}", parent, s"job ${e.jobId}", "exec", start, Clock.nowMs,
        Map("ok" -> (e.jobResult == JobSucceeded))))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) {
        val buf = taskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
        buf.synchronized { buf += e.taskInfo.duration }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val durs = Option(taskMs.remove(si.stageId)).map(b => b.synchronized(b.toVector))
        .getOrElse(Vector.empty).sorted
      val start = si.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
      val end = si.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
      val attrs: Map[String, Any] = Map(
        "tasks" -> si.numTasks,
        "task_ms_max" -> durs.lastOption.getOrElse(0L),
        "task_ms_median" -> (if (durs.isEmpty) 0L else durs(durs.size / 2)),
        "shuffle_read_bytes" -> (if (tm == null) 0L else
          tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead),
        "shuffle_write_bytes" -> (if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled),
        "gc_ms" -> (if (tm == null) 0L else tm.jvmGCTime),
        "ok" -> si.failureReason.isEmpty)
      val parent = Option(stageJob.get(si.stageId)).map(j => s"j$j")
      add(Span(s"g${si.stageId}.${si.attemptNumber()}", parent, s"stage ${si.stageId}",
        "exec", start, end, attrs))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L, ok = false)
    private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
      }
      qeEvents.synchronized {
        qeEvents += Seq("func" -> funcName, "ok" -> ok, "duration_ms" -> durationNs / 1e6,
          "end_ms" -> Clock.nowMs, "phases" -> phases)
      }
    }
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    this
  }

  /** Unhook the listeners and write every span and planning record. */
  def finish(): Unit = {
    // the listener bus is asynchronous: give in-flight events a moment
    Thread.sleep(500)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    qeEvents.synchronized(qeEvents.foreach(f => rec.emit("qe", f: _*)))
    spans.synchronized(spans.foreach { s =>
      rec.emit("span", "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "run" -> runId, "attrs" -> s.attrs)
    })
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: String, parent: Option[String], name: String, layer: String,
                        startMs: Double, endMs: Double, attrs: Map[String, Any])

  def triggerId(runId: String, batchId: Long): String = s"t$runId/$batchId"

  /** `body` under a span when tracing, plain otherwise. */
  def within[A](t: Option[Tracer], name: String, layer: String,
                parent: Option[String] = None)(body: => A): A =
    t match {
      case Some(tr) => tr.span(name, layer, parent)(body)
      case None => body
    }
}
