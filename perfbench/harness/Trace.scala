package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed operation: a facade call, a batch query, or a bench-side
  * probe. `startMs`/`endMs` are wall-clock so they line up with Spark's
  * job and phase timestamps; latency comes from the monotonic clock.
  * `tag` names what varies within a kind (a retrieve's mode, a query's
  * name); `traced` says whether the listeners were on during the call.
  */
final case class Op(
    id: String,
    kind: String,
    tag: String,
    client: Int,
    traced: Boolean,
    startMs: Long,
    endMs: Long,
    latencyMs: Double,
    ok: Boolean,
    error: String,
    fsReadOps: Long = 0L,
    fsWriteOps: Long = 0L,
    /** Steps inside the op the bench times or reads itself: prompt
      * rendering (`retrieval`), or the Catalyst phases of a query whose
      * action runs outside any SQL execution (`plan`).
      */
    children: Seq[Child] = Nil)

/** A child span the bench records: wall-clock bounds plus its exact duration. */
final case class Child(layer: String, name: String, startMs: Long, endMs: Long, durMs: Double)

/** Runs operations and records them. Every call runs under its own Spark
  * job group, set on the calling thread, so each job and SQL execution
  * carries the id of the call that caused it: two concurrent clients
  * never share a label.
  *
  * With a tracer, the workload switches tracing on and off between calls
  * (`tracing`), so that traced and untraced calls interleave in one
  * phase and their latencies can be compared.
  */
final class Calls(spark: SparkSession, val tracer: Option[Tracer] = None) {
  private val seq = new AtomicLong
  val ops = new ConcurrentLinkedQueue[Op]()
  @volatile private var on = false
  def traced: Boolean = on

  /** Attach or detach the tracer's listener. Call it only while no
    * operation runs.
    */
  def tracing(enable: Boolean): Unit = tracer.foreach { t =>
    if (enable && !on) t.attach()
    if (!enable && on) t.detach()
    on = enable
  }

  /** Run `body` as operation `kind`; an exception or a failed check
    * (`body` returning `Some(error)`) marks the op failed.
    */
  def run[T](kind: String, client: Int, tag: String = "")(body: Calls.Ctx => T)(check: T => Option[String]): Option[T] = {
    val id = s"$kind-${seq.incrementAndGet()}" + (if (tag.isEmpty) "" else s"-$tag")
    val traced = on
    val sc = spark.sparkContext
    val ctx = new Calls.Ctx
    val fs0 = CountingLocalFileSystem.threadOps()
    sc.setJobGroup(id, kind)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Right(body(ctx))
      catch { case e: Throwable => Left(s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    val fs1 = CountingLocalFileSystem.threadOps()
    val err = out.fold(Some(_), check)
    ops.add(Op(id, kind, tag, client, traced, startMs, endMs, (t1 - t0) / 1e6, err.isEmpty, err.getOrElse(""),
      fs1._1 - fs0._1, fs1._2 - fs0._2, ctx.children.asScala.toSeq))
    out.toOption.filter(_ => err.isEmpty)
  }

  def all: Seq[Op] = ops.asScala.toSeq.sortBy(_.startMs)
}

object Calls {
  final class Ctx {
    val children = new ConcurrentLinkedQueue[Child]()
    /** Time a bench-side step inside the op as a child span of `layer`. */
    def span[T](layer: String, name: String)(body: => T): T = {
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val d = (System.nanoTime() - t0) / 1e6
        children.add(Child(layer, name, s, s + d.toLong, d))
      }
    }

    /** Record the Catalyst phases `qe` went through as `plan` children. */
    def planPhases(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      qe.tracker.phases.foreach { case (p, ps) =>
        children.add(Child("plan", p, ps.startTimeMs, ps.endTimeMs, ps.durationMs.toDouble))
      }
  }
}

/** Spark-side recorder for traced calls: jobs, tasks and SQL
  * executions from the listener events, and Catalyst phase times from
  * each execution's `QueryExecution.tracker`. Everything is keyed by the
  * job group (the call id) set on the calling thread.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  /** SQL execution id → call id. */
  val execCall = new ConcurrentHashMap[Long, String]()
  /** SQL execution id → (phase, start ms, end ms). */
  val execPhases = new ConcurrentHashMap[Long, Seq[(String, Long, Long)]]()

  /** Attach after the bus has delivered what is queued, so that events
    * of earlier, untraced calls do not reach this listener.
    */
  def attach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, group, exec, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { job =>
      val m = e.taskMetrics
      val info = e.taskInfo
      job.synchronized {
        job.tasks += 1
        val submitted = Option(stageSubmit.get(e.stageId)).getOrElse(info.launchTime)
        job.schedDelayMs += math.max(0L, info.launchTime - submitted)
        if (m != null) {
          job.cpuNs += m.executorCpuTime
          job.runMs += m.executorRunTime
          job.gcMs += m.jvmGCTime
          job.inputBytes += m.inputMetrics.bytesRead
          job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          job.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execCall.put(s.executionId, g))
    case end: SparkListenerSQLExecutionEnd =>
      PerfbenchSql.queryExecution(end).foreach { qe =>
        execPhases.put(end.executionId,
          qe.tracker.phases.toSeq.map { case (p, s) => (p, s.startTimeMs, s.endTimeMs) })
      }
    case _ =>
  }
}

object Tracer {
  final class JobRec(val jobId: Int, val group: String, val execId: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }
}
