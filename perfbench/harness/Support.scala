package perfbench

import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch nanoseconds from a monotonic clock, so spans line up with the
  * epoch-millisecond times of listener events and file stamps. */
final class Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def epochNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** In-memory spans (name, layer, start, end, parent, op), written out when
  * the run ends. Spans nest by call order on the driver thread. */
final class Trace(clock: Clock) {
  private val spans = mutable.ArrayBuffer[JMap[String, Object]]()
  private var stack: List[Int] = Nil

  def span[A](name: String, layer: String, op: Int, enabled: Boolean)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val rec = Json.obj("id" -> Int.box(id), "name" -> name, "layer" -> layer,
        "op" -> Int.box(op), "parent" -> Int.box(stack.headOption.getOrElse(-1)),
        "start_ns" -> Long.box(clock.epochNs()))
      spans += rec
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        rec.put("end_ns", Long.box(clock.epochNs()))
      }
    }

  def records: java.util.List[JMap[String, Object]] = spans.asJava
}

/** Jobs, stages and tasks, summed per job. A job carries its job group
  * (`op<i>:<phase>`), its micro-batch id when a stream ran it, and its
  * call site, so run.py can attribute it to an op, a phase and a layer. */
final class ExecListener extends SparkListener {
  private final class Job(val id: Int, val group: String, val batch: String,
                          val callSite: String, val startMs: Long) {
    var endMs = -1L
    var ok = false
    var stages, tasks, failedTasks = 0
    var runMs, cpuNs, schedDelayMs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var bytesRead, bytesWritten = 0L
    var skew = 0.0
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageDurations = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  @volatile var events = 0L
  @volatile var open = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1; open += 1
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage (highest id) is named after the job's call site
    val callSite = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), callSite, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1; open -= 1
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val id = e.stageInfo.stageId
    for (jid <- stageJob.get(id); j <- jobs.get(jid)) {
      j.stages += 1
      stageDurations.remove(id).filter(_.size >= 2).foreach { d =>
        val s = d.sorted
        val median = s(s.size / 2).max(1L)
        j.skew = j.skew.max(s.last.toDouble / median)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      val info = e.taskInfo
      j.tasks += 1
      if (!info.successful) j.failedTasks += 1
      stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        info.duration
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.bytesRead += m.inputMetrics.bytesRead
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  def jobRecords: java.util.List[JMap[String, Object]] = synchronized {
    jobs.values.toSeq.map(j => Json.obj(
      "id" -> Int.box(j.id), "group" -> j.group, "batch" -> j.batch,
      "call_site" -> j.callSite, "start_ms" -> Long.box(j.startMs),
      "end_ms" -> Long.box(j.endMs), "ok" -> Boolean.box(j.ok),
      "stages" -> Int.box(j.stages), "tasks" -> Int.box(j.tasks),
      "failed_tasks" -> Int.box(j.failedTasks),
      "task_run_ms" -> Long.box(j.runMs),
      "task_cpu_ms" -> Double.box(j.cpuNs / 1e6),
      "sched_delay_ms" -> Long.box(j.schedDelayMs),
      "task_gc_ms" -> Long.box(j.gcMs),
      "shuffle_write_bytes" -> Long.box(j.shuffleWrite),
      "shuffle_read_bytes" -> Long.box(j.shuffleRead),
      "fetch_wait_ms" -> Long.box(j.fetchWaitMs),
      "spill_bytes" -> Long.box(j.spill),
      "bytes_read" -> Long.box(j.bytesRead),
      "bytes_written" -> Long.box(j.bytesWritten),
      "skew" -> Double.box(j.skew))).asJava
  }
}

/** Catalyst phase times of every query execution, including the ones a
  * write plans for itself; records only while enabled. */
final class PlanListener extends QueryExecutionListener {
  private val recs = mutable.ArrayBuffer[JMap[String, Object]]()
  @volatile var events = 0L
  @volatile var enabled = false

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit =
    if (enabled) synchronized {
      events += 1
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      recs += Json.obj("func" -> func, "ok" -> Boolean.box(ok),
        "start_ms" -> Long.box(phases.values.map(_.startTimeMs)
          .minOption.getOrElse(0L)),
        "analysis_ms" -> Long.box(ms("analysis")),
        "optimization_ms" -> Long.box(ms("optimization")),
        "planning_ms" -> Long.box(ms("planning")))
    }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, ok = true)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, ok = false)

  def records: java.util.List[JMap[String, Object]] = synchronized(recs.asJava)
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kv: (String, Object)*): JMap[String, Object] = {
    val m = new JMap[String, Object]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def parse(text: String): java.util.Map[String, Object] =
    mapper.readValue(text, classOf[java.util.Map[String, Object]])

  def read(path: String): java.util.Map[String, Object] =
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Object]])

  def write(path: String, value: Object): Unit =
    mapper.writeValue(new java.io.File(path), value)
}
