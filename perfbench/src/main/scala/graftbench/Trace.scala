package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Layer tracing from outside the engine: spans around the benchmark's
  * calls into each layer, plus Spark's public listeners (scheduler events,
  * query-execution planning phases). Everything stays in memory and is
  * written once, at exit ([[dump]]).
  *
  * All times are epoch milliseconds (fractional for spans), the clock the
  * Spark listener events use.
  */
final class Trace(spark: SparkSession) {
  import Trace._
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  // RDD id -> first time a stage touched it with a storage level set: the
  // persist / checkpoint barriers the caches layer creates
  private val persisted = mutable.LinkedHashMap.empty[Int, Long]
  @volatile private var flushMarker = -1
  @volatile private var flushedJob = -1

  /** Runs `f` as a span of `layer`; a failed call is recorded as failed. */
  def span[T](layer: String, name: String)(f: => T): T = {
    val t0 = nowMs
    var ok = false
    try { val v = f; ok = true; v }
    finally addSpan(layer, name, t0, nowMs, ok)
  }

  def addSpan(layer: String, name: String, start: Double, end: Double,
              ok: Boolean = true): Unit = synchronized {
    spans += Span(layer, name, start, end, ok)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val batch = Option(e.properties).flatMap(p =>
        Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
      jobs += Job(e.jobId, e.time, batch)
      e.stageInfos.foreach(_.rddInfos.foreach { r =>
        if (r.storageLevel.isValid && !persisted.contains(r.id)) persisted(r.id) = e.time
      })
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == flushMarker) flushedJob = e.jobId
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorCpuTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      Trace.this.synchronized { plans += Plan(nowMs, ms) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Waits until every listener event posted so far has been delivered:
    * runs a marker job and waits for its end event, which the listener
    * queue delivers after all earlier events. */
  def flush(): Unit = {
    val sc = spark.sparkContext
    val before = synchronized(jobs.size)
    sc.setJobGroup("perfbench-flush", "listener flush", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (synchronized(jobs.size) == before && System.nanoTime() < deadline) Thread.sleep(5)
    flushMarker = synchronized(jobs.last.id)
    while (flushedJob != flushMarker && System.nanoTime() < deadline) Thread.sleep(5)
    synchronized { jobs.remove(jobs.size - 1) } // the marker is not workload
  }

  /** Scheduler-side totals for the wall interval [a, b]. */
  def window(a: Double, b: Double): Window = synchronized {
    val ts = tasks.filter(t => t.launch >= a - 1 && t.launch <= b + 1)
    // union of task intervals, clipped to [a, b]: time some task was running
    val iv = ts.map(t => (math.max(a, t.launch.toDouble), math.min(b, t.finish.toDouble)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) busy += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) busy += curE - curS
    Window(
      jobs = jobs.count(j => j.start >= a - 1 && j.start <= b + 1),
      stages = ts.map(_.stage).distinct.size,
      tasks = ts.size,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      busyS = busy / 1e3,
      inBytes = ts.map(_.inBytes).sum, inRecords = ts.map(_.inRecords).sum,
      shuffleWrite = ts.map(_.shuffleWrite).sum,
      shuffleRead = ts.map(_.shuffleRead).sum, spill = ts.map(_.spill).sum,
      planningMs = plans.filter(p => p.at >= a && p.at <= b + 1).map(_.phasesMs).sum,
      persistedRdds = persisted.values.count(t => t >= a - 1 && t <= b + 1))
  }

  /** Spark jobs per streaming micro-batch id. */
  def jobsPerBatch: Map[Long, Int] = synchronized {
    jobs.flatMap(_.batchId).groupBy(identity).map { case (k, v) => k -> v.size }
  }

  def dump(path: java.nio.file.Path): Unit = synchronized {
    Main.writeJson(path, Map(
      "spans" -> spans.map(s => Map("layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "ok" -> s.ok)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ms" -> j.start,
        "batch" -> j.batchId.getOrElse(-1L))),
      "tasks" -> tasks.size))
  }
}

object Trace {
  final case class Span(layer: String, name: String, start: Double, end: Double,
                        ok: Boolean)
  final case class Job(id: Int, start: Long, batchId: Option[Long])
  final case class Task(stage: Int, launch: Long, finish: Long, cpuNs: Long,
                        inBytes: Long, inRecords: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long)
  final case class Plan(at: Double, phasesMs: Double)
  final case class Window(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
                          busyS: Double, inBytes: Long, inRecords: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          planningMs: Double, persistedRdds: Int)
}
