package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, timed from the benchmark side. `parent` is the
  * span that was open when this one started (-1 at the top), `op` the
  * timed operation it belongs to. Times are ms on the run's clock.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      start: Double, end: Double)

/** A Spark job and the span that was open on the thread that submitted
  * it, with its tasks' totals.
  */
final class JobRec(val id: Int, val span: Int, val start: Double) {
  var end: Double = start
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputB = 0L
  var shuffleB = 0L
  var spillB = 0L
  var outputB = 0L
  val taskDurations = mutable.ArrayBuffer[Long]()
}

/** Planning and execution time of one finished query, as Spark's own
  * QueryExecution phase tracker reports it.
  */
final case class QeRec(start: Double, planMs: Long, execMs: Double, ok: Boolean)

/** The run's single clock: ms since the run started, from nanoTime. Job
  * events carry wall-clock ms, converted through the offset taken here.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - baseNs) / 1e6
  def fromEpoch(ms: Long): Double = (ms - baseEpochMs).toDouble
}

/** Span recorder plus the two listeners the benchmark registers while a
  * traced cycle runs. Spans open and close on the driver thread; the open
  * span's id travels to Spark as a SparkContext local property, which
  * threads started inside the span (the engine's parallel write lanes)
  * inherit, so every job is tagged with the call that caused it.
  */
class Tracer(sc: SparkContext) {
  val Key = "perfbench.span"
  @volatile private var on = false
  private var nextId = 0
  private var open: List[Int] = Nil
  var op = -1

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val qes = mutable.ArrayBuffer[QeRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  def tracing: Boolean = on

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      open = id :: open
      val t0 = Clock.now
      try body
      finally {
        val t1 = Clock.now
        open = open.tail
        sc.setLocalProperty(Key, prev)
        spans += Span(id, parent, op, layer, name, t0, t1)
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = new JobRec(e.jobId, span, Clock.fromEpoch(e.time))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = Clock.fromEpoch(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        val info = e.taskInfo
        val dur = info.finishTime - info.launchTime
        j.tasks += 1
        if (!info.successful) j.failedTasks += 1
        j.taskMs += dur
        j.taskDurations += dur
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.inputB += m.inputMetrics.bytesRead
          j.shuffleB += m.shuffleWriteMetrics.bytesWritten
          j.spillB += m.diskBytesSpilled
          j.outputB += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, execMs: Double, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val start = if (phases.isEmpty) Clock.now
                  else Clock.fromEpoch(phases.values.map(_.startTimeMs).min)
      Tracer.this.synchronized { qes += QeRec(start, plan, execMs, ok) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs / 1e6, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0.0, ok = false)
  }

  /** Register both listeners and start recording spans. */
  def start(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Stop recording, let the asynchronous bus deliver what is queued, and
    * unregister, so untraced work afterwards runs with no listener at all.
    */
  def stop(spark: org.apache.spark.sql.SparkSession): Unit = {
    on = false
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start" -> s.start, "end" -> s.end)).toSeq,
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "span" -> j.span,
        "start" -> j.start, "end" -> j.end, "tasks" -> j.tasks,
        "failed_tasks" -> j.failedTasks, "task_ms" -> j.taskMs, "run_ms" -> j.runMs,
        "gc_ms" -> j.gcMs, "input_b" -> j.inputB, "shuffle_b" -> j.shuffleB,
        "spill_b" -> j.spillB, "output_b" -> j.outputB,
        "task_durations" -> j.taskDurations.toSeq)).toSeq,
      "qes" -> qes.map(q => Map("start" -> q.start, "plan_ms" -> q.planMs,
        "exec_ms" -> q.execMs, "ok" -> q.ok)).toSeq)
  }
}
