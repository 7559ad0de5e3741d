package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * line up with the epoch-millisecond times Spark's listeners report. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this process has used, all threads: the work done,
    * which co-tenant load on the machine changes far less than wall time. */
  def cpuS: Double = os.getProcessCpuTime / 1e9
}

/** One timed operation of the closed loop: a read or a write. */
final case class Op(kind: String, span: String, name: String,
    startMs: Double, endMs: Double, ok: Boolean)

/** One span: a call into a layer, made from the benchmark's own code. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startMs: Double, var endMs: Double, var buildEndMs: Double,
    attrs: mutable.Map[String, Double])

/** Collects operations always, and spans plus Spark listener events
  * only while tracing is on. Listener state is read after the session
  * stops, which drains Spark's listener bus. */
final class Recorder(spark: SparkSession) {
  @volatile var tracing = false
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)
  private val stack = mutable.Stack.empty[Span]

  /** Jobs started since the session began, traced or not. */
  val jobCount = new AtomicLong(0)

  // --- traced state, filled by listener threads ---
  private final class JobRec(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1
    val cpuNs = new AtomicLong(0)
    val runNs = new AtomicLong(0)
    val shuffleWrite = new AtomicLong(0)
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobCount.incrementAndGet()
      if (tracing) {
        jobs.put(e.jobId, new JobRec(e.jobId, e.time))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { j =>
            val m = e.taskMetrics
            j.cpuNs.addAndGet(m.executorCpuTime)
            j.runNs.addAndGet(m.executorRunTime * 1000000L)
            j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = if (tracing) qes.add(summarize(qe))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = if (tracing) qes.add(summarize(qe))
  })

  spark.streams.addListener(new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (tracing) {
        val p = e.progress
        def d(k: String): Double =
          Option(p.durationMs.get(k)).map(_.toDouble / 1e3).getOrElse(0.0)
        progress.add(Map("name" -> String.valueOf(p.name),
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "trigger_s" -> d("triggerExecution"), "add_batch_s" -> d("addBatch"),
          "planning_s" -> d("queryPlanning"), "wal_commit_s" -> d("walCommit")))
      }
  })

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case c: CommandResultExec => leaves(c.commandPhysicalPlan)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(leaves)
  }

  /** Catalyst phase times and files/bytes written by one finished query
    * execution. */
  private def summarize(qe: QueryExecution): Map[String, Any] = {
    val phases = qe.tracker.phases
    def phase(n: String): Double =
      phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val nodes = try leaves(qe.executedPlan) catch { case _: Throwable => Nil }
    val writeMetrics = nodes.collect {
      case w: DataWritingCommandExec => w.cmd.metrics
    }
    def written(k: String): Long =
      writeMetrics.flatMap(_.get(k)).map(_.value).sum
    val endMs = phases.values.map(_.endTimeMs).foldLeft(0L)(math.max)
    Map("end_ms" -> endMs, "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "files_written" -> written("numFiles"),
      "bytes_written" -> written("numOutputBytes"))
  }

  private def open(name: String, op: String): Span = {
    val s = Span(nextId.getAndIncrement(),
      if (stack.isEmpty) 0L else stack.top.id, name, op, Clock.ms, -1, -1,
      mutable.Map.empty)
    spans += s
    stack.push(s)
    s
  }

  private def close(s: Span): Unit = {
    s.endMs = Clock.ms
    stack.pop()
    ()
  }

  /** A span around `body`, recorded only while tracing. */
  def span[T](name: String, op: String = "")(body: Span => T): T =
    if (!tracing) body(null)
    else {
      val s = open(name, op)
      try body(s) finally close(s)
    }

  /** A timed read or write of the closed loop; an exception counts as a
    * failure. */
  def op(kind: String, spanName: String, name: String)(body: Span => Unit)
      : Unit = {
    val t0 = Clock.ms
    val ok = try { span(spanName, name)(body); true } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $kind $name failed: $e")
        false
    }
    ops += Op(kind, spanName, name, t0, Clock.ms, ok)
  }

  /** Mark the end of the eager part of a call: the point where it
    * returned its DataFrame. */
  def built(s: Span): Unit = if (s != null) s.buildEndMs = Clock.ms

  def attr(s: Span, k: String, v: Double): Unit =
    if (s != null) s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v

  /** The traced record: spans, jobs, query executions, stream progress. */
  def traceJson: Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs,
      "build_end_ms" -> (if (s.buildEndMs < 0) null else s.buildEndMs),
      "attrs" -> s.attrs.toMap)),
    "jobs" -> jobs.values().asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "cpu_s" -> j.cpuNs.get / 1e9, "run_s" -> j.runNs.get / 1e9,
      "shuffle_write_bytes" -> j.shuffleWrite.get)),
    "query_executions" -> qes.asScala.toSeq,
    "stream_progress" -> progress.asScala.toSeq)
}
