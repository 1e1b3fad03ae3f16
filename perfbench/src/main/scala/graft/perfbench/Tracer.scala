package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One client operation: the root span of everything it caused. */
final case class OpRec(id: Long, kind: String, phase: String, thread: String,
                       startNs: Long, endNs: Long, ok: Boolean, error: String)

/** A timed call into one of the program's public layers. */
final case class SpanRec(id: Long, parent: Long, op: Long, module: String, name: String,
                         thread: String, startNs: Long, endNs: Long)

/** A Spark job with its stages' task metrics summed. `op` is the op id
  * carried in the job's local properties (-1 when the submitting thread
  * did not carry one); `frames` are the program frames of its call site,
  * innermost first. */
final case class JobRec(jobId: Int, op: Long, startNs: Long, endNs: Long, callSite: String,
                        frames: Seq[String], stages: Int, tasks: Int, singleTaskStages: Int,
                        runMs: Long, cpuNs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** One query planning, from the QueryPlanningTracker. */
final case class PlanRec(endNs: Long, planMs: Long, func: String)

/** Outside-in recorder. Ops are always recorded (the end-to-end metrics
  * come from them); spans, Spark jobs and planning times only when
  * tracing. Everything stays in memory until the run writes it out.
  *
  * All times are on one clock: System.nanoTime, with listener event
  * times (epoch milliseconds) mapped onto it through the offset taken at
  * construction. */
final class Tracer(val tracing: Boolean) {
  private val ids = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[OpRec]()
  val spans = new ConcurrentLinkedQueue[SpanRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  @volatile var phase = "init"
  /** Time the timed phase spent in `probe` work. */
  val probeNs = new AtomicLong(0)

  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def epochMsToNs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (span id, op id)
  @volatile private var spark: SparkSession = _

  val OpProperty = "graft.perfbench.op"

  /** Run one client op; a failure is recorded, never thrown. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val id = ids.incrementAndGet()
    val sc = if (tracing && spark != null) spark.sparkContext else null
    if (sc != null) sc.setLocalProperty(OpProperty, id.toString)
    stack.set(List((id, id)))
    val t0 = System.nanoTime()
    var err: Throwable = null
    val out = try Some(body) catch { case e: Throwable => err = e; None }
    val t1 = System.nanoTime()
    stack.set(Nil)
    if (sc != null) sc.setLocalProperty(OpProperty, null)
    ops.add(OpRec(id, kind, phase, Thread.currentThread.getName, t0, t1, err == null,
      if (err == null) "" else s"${err.getClass.getSimpleName}: ${String.valueOf(err.getMessage).take(300)}"))
    out
  }

  /** Time one call into `module` as a child of the innermost open span. */
  def span[T](module: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = ids.incrementAndGet()
      val (parent, opId) = stack.get.headOption.getOrElse((0L, 0L))
      stack.set((id, opId) :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(SpanRec(id, parent, opId, module, name, Thread.currentThread.getName, t0, t1))
      }
    }

  /** Work done only for the trace (extra reads that feed per-layer
    * metrics): skipped when not tracing; its time is summed so the run
    * can report the share of client time it took. */
  def probe(body: => Unit): Unit = if (tracing) {
    val t0 = System.nanoTime()
    try body finally if (phase == "timed") probeNs.addAndGet(System.nanoTime() - t0): Unit
  }

  /** Register the Spark listeners (tracing runs only). */
  def install(session: SparkSession): Unit = {
    spark = session
    if (tracing) {
      session.sparkContext.addSparkListener(new JobListener)
      session.listenerManager.register(new PlanListener)
    }
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drainListeners(): Unit = if (tracing && spark != null) {
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
    } catch { case _: Exception => Thread.sleep(1000) }
  }

  private final class StageAcc {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var shuffle = 0L; var spill = 0L
  }

  private final class JobListener extends SparkListener {
    private case class Open(op: Long, startNs: Long, callSite: String, frames: Seq[String], stageIds: Seq[Int])
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
    private val stageAcc = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toLong).getOrElse(-1L)
      val first = e.stageInfos.sortBy(_.stageId).lastOption
      val details = first.map(_.details).getOrElse("")
      val frames = details.split("\n").iterator.map(_.trim)
        .filter(l => l.startsWith("graft.")).take(12).toSeq
      open.put(e.jobId, Open(op, epochMsToNs(e.time), first.map(_.name).getOrElse(""),
        frames, e.stageIds))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val acc = new StageAcc
      acc.tasks = si.numTasks
      Option(si.taskMetrics).foreach { m =>
        acc.runMs = m.executorRunTime
        acc.cpuNs = m.executorCpuTime
        acc.shuffle = m.shuffleWriteMetrics.bytesWritten
        acc.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageAcc.put(si.stageId, acc)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val o = open.remove(e.jobId)
      if (o != null) {
        val done = o.stageIds.flatMap(s => Option(stageAcc.remove(s)))
        jobs.add(JobRec(e.jobId, o.op, o.startNs, epochMsToNs(e.time), o.callSite, o.frames,
          done.size, done.map(_.tasks).sum, done.count(_.tasks == 1),
          done.map(_.runMs).sum, done.map(_.cpuNs).sum,
          done.map(_.shuffle).sum, done.map(_.spill).sum))
      }
    }
  }

  private final class PlanListener extends QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      plans.add(PlanRec(System.nanoTime(), ms, func))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  def opList: Seq[OpRec] = ops.asScala.toSeq.sortBy(_.startNs)
}
