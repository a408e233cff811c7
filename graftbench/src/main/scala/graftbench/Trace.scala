package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work observed between two span boundaries. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var queries = 0
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L

  def +=(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; queries += o.queries
    jobIntervalsMs ++= o.jobIntervalsMs; taskMs ++= o.taskMs
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
    analysisMs += o.analysisMs; optimizerMs += o.optimizerMs
    planningMs += o.planningMs
  }

  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "queries" -> queries,
    "job_intervals_ms" -> jobIntervalsMs.map { case (s, e) => Seq(s, e) },
    "task_ms" -> taskMs, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "gc_ms" -> gcMs, "analysis_ms" -> analysisMs,
    "optimizer_ms" -> optimizerMs, "planning_ms" -> planningMs)
}

/** Spark's own hooks: jobs, stages and tasks from the scheduler, and
  * the QueryPlanningTracker phases of every executed query. Collects
  * into one open [[SparkWork]] that the tracer takes at each span
  * boundary. */
final class SparkObserver extends SparkListener with QueryExecutionListener {
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private var current = new SparkWork

  def take(): SparkWork = synchronized {
    val w = current
    current = new SparkWork
    w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartMs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    current.jobs += 1
    current.jobIntervalsMs += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { current.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    current.tasks += 1
    current.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      current.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      current.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      current.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      current.gcMs += m.jvmGCTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    current.queries += 1
    current.analysisMs += ms("analysis")
    current.optimizerMs += ms("optimization")
    current.planningMs += ms("planning")
  }
}

/** In-memory span recorder. A top-level operation ([[op]]) and every
  * [[span]] inside it record name, start, end, parent and the id of the
  * operation they belong to; counts recorded with [[count]] attach to the
  * innermost open span, and [[annotate]] attaches to the last finished
  * operation (for counts probed after the timed call). Spans are written
  * out by [[write]] when the run ends.
  *
  * Only operations run with `traced = true` attach Spark's listeners,
  * so a traced run can interleave traced and untraced operations and
  * report what the tracing itself costs. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private final class Rec(val id: Int, val op: Int, val parent: Int,
                          val name: String, val startNs: Long) {
    var endNs = 0L
    val attrs = mutable.LinkedHashMap.empty[String, Double]
    val work = new SparkWork
  }

  private val observer = new SparkObserver
  private val finished = mutable.ArrayBuffer.empty[Rec]
  private val stack = mutable.ArrayBuffer.empty[Rec]
  private var lastOp: Option[Rec] = None
  private var nextId = 1
  // wall-clock nanoseconds, so span times line up with Spark's job times
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def nowNs: Long = epochOffsetNs + System.nanoTime()

  /** Charge all Spark events delivered so far to the innermost open span. */
  private def boundary(): Unit = {
    BusDrain(spark.sparkContext)
    val w = observer.take()
    stack.lastOption.foreach(_.work += w)
  }

  def op[T](name: String, traced: Boolean)(body: => T): T =
    if (!enabled || !traced) body
    else {
      BusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(observer)
      spark.listenerManager.register(observer)
      observer.take()
      try timed(name)(body)
      finally {
        spark.listenerManager.unregister(observer)
        spark.sparkContext.removeSparkListener(observer)
        lastOp = finished.lastOption
      }
    }

  def span[T](name: String)(body: => T): T =
    if (stack.isEmpty) body else timed(name)(body)

  private def timed[T](name: String)(body: => T): T = {
    boundary()
    val parent = stack.lastOption
    val r = new Rec(nextId, parent.map(_.op).getOrElse(nextId),
      parent.map(_.id).getOrElse(0), name, nowNs)
    nextId += 1
    stack += r
    try body
    finally {
      boundary()
      r.endNs = nowNs
      stack.remove(stack.size - 1)
      finished += r
    }
  }

  def count(key: String, v: Double): Unit =
    stack.lastOption.foreach(r => r.attrs(key) = r.attrs.getOrElse(key, 0.0) + v)

  def annotate(key: String, v: Double): Unit =
    if (enabled) lastOp.foreach(r => r.attrs(key) = r.attrs.getOrElse(key, 0.0) + v)

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try finished.sortBy(_.id).foreach { r =>
      out.println(Json.obj("id" -> r.id, "op" -> r.op, "parent" -> r.parent,
        "name" -> r.name, "start_ns" -> r.startNs, "end_ns" -> r.endNs,
        "attrs" -> r.attrs, "spark" -> Json.Raw(r.work.json)))
    } finally out.close()
  }
}
