package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.el.ElCompiler
import graft.flow.{FlowConfig, FlowRunner, FlowStreaming, Units}
import graft.streaming.FlowRuntime

/**
 * JVM side of the benchmark: drives one workload through the system's
 * public entry points and writes raw timings, checks and (when traced)
 * listener records to `<run dir>/result.json`. `run.py` turns them into
 * metrics. Usage: `Harness <plan.json>`.
 *
 * Untraced runs attach nothing but the streaming progress listener (the
 * tail workload's batch clock). Traced runs add a SparkListener and a
 * QueryExecutionListener, tag every job with a `setJobGroup` naming its op
 * and phase, and record spans around the calls into `flow`, `el`,
 * `pipeline` and `streaming`; closed loops alternate traced and untraced
 * ops so the tracing overhead is measured in the same run.
 */
final class Harness(plan: java.util.Map[String, Object]) {
  private def str(k: String): String = plan.get(k).toString
  private def num(k: String): Double = plan.get(k).toString.toDouble

  private val runDir = str("run_dir")
  private val workload = str("workload")
  private val seconds = num("seconds")
  private val traced = plan.get("trace") == true
  private val cpus = num("cpus").toInt
  private val injectMeasuredOp = num("inject_measured_op").toInt
  private var injectAt = -1

  private val clock = new Clock
  private val trace = new Trace(clock)
  private val ops = ArrayBuffer[JMap[String, Object]]()
  private val out = new JMap[String, Object]()
  private var spark: SparkSession = _
  private var exec: ExecListener = _
  private var plans: PlanListener = _

  def run(): Unit = {
    out.put("setup", Json.obj(
      "launched_at_ms" -> plan.get("launched_at_ms"),
      "jvm_start_ms" -> Long.box(java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime)))
    try {
      spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$runDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      setupMark("session_ready_ms")
      exec = new ExecListener
      plans = new PlanListener
      // registered before any query exists: a stream's session is cloned
      // at start and only sees listeners registered by then
      if (traced) spark.listenerManager.register(plans)
      workload match {
        case "flow_sweep" => flowSweep()
        case "curate_dclm" => curateDclm()
        case "tail_stream" => tailStream()
        case other => throw new IllegalArgumentException(s"workload $other")
      }
      if (traced) waitForListeners()
    } catch {
      case t: Throwable =>
        out.put("fatal", t.toString)
        t.printStackTrace()
    } finally {
      out.put("ops", ops.asJava)
      out.put("jvm", jvmStats())
      if (exec != null) {
        out.put("jobs", exec.jobRecords)
        out.put("queries", plans.records)
      }
      out.put("spans", trace.records)
      Json.write(s"$runDir/result.json", out)
      if (spark != null) spark.stop()
    }
  }

  private def setupMark(key: String): Unit =
    out.get("setup").asInstanceOf[JMap[String, Object]]
      .put(key, Long.box(System.currentTimeMillis()))

  // ------------------------------------------------------------ op loop

  /** Closed loop: warm up until op time settles, then measure for the
    * run's seconds. Op `i` of the run is the `k`-th of its phase; inputs
    * are keyed by phase and `k`, so measured op `k` sees the same input
    * however long the warm-up took. */
  private def closedLoop(op: (Int, String, Boolean) => JMap[String, Object]): Unit = {
    var i = 0
    val warm = ArrayBuffer[Double]()
    def settled: Boolean = warm.size >= Harness.WarmMin && {
      val a = warm(warm.size - 2); val b = warm.last
      math.abs(b - a) <= Harness.WarmTolerance * a
    }
    while (!settled && warm.size < Harness.WarmMax) {
      val rec = timedOp(op, i, s"w${warm.size}", "warmup", tracedOp = false)
      require(rec.get("ok") == java.lang.Boolean.TRUE,
        s"warm-up op $i failed: ${rec.get("error")}")
      warm += rec.get("lat_ms").asInstanceOf[Double]
      i += 1
    }
    setupMark("ready_ms")
    if (traced) attachListeners()
    memoryPeaksReset()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run needs one traced and one untraced op at least
    val minOps = if (traced) 2 else 1
    var k = 0
    while (System.nanoTime() < end || k < minOps) {
      if (k == injectMeasuredOp) injectAt = i
      // traced runs alternate: even measured ops traced, odd untraced
      timedOp(op, i, s"m$k", "measure", tracedOp = traced && k % 2 == 0)
      i += 1; k += 1
    }
  }

  /** One op with the failure convention: an op that throws records no
    * latency, only its error. */
  private def timedOp(op: (Int, String, Boolean) => JMap[String, Object],
                      i: Int, key: String, phase: String,
                      tracedOp: Boolean): JMap[String, Object] = {
    val gc0 = gcMs()
    val rec =
      try {
        val r = op(i, key, tracedOp)
        r.put("lat_ms", Double.box((r.get("op_end_ns").asInstanceOf[Long] -
          r.get("op_start_ns").asInstanceOf[Long]) / 1e6))
        r.put("ok", java.lang.Boolean.TRUE)
        r
      } catch {
        case t: Throwable =>
          spark.sparkContext.clearJobGroup()
          Json.obj("ok" -> java.lang.Boolean.FALSE, "error" -> t.toString)
      }
    rec.put("op", Int.box(i))
    rec.put("key", key)
    rec.put("phase", phase)
    rec.put("traced", Boolean.box(tracedOp))
    rec.put("gc_ms", Long.box(gcMs() - gc0))
    ops += rec
    rec
  }

  private def group(i: Int, phase: String, tracedOp: Boolean): Unit =
    if (tracedOp) spark.sparkContext.setJobGroup(s"op$i:$phase", phase)
    else spark.sparkContext.clearJobGroup()

  /** Self-test hook: the chosen measured op throws mid-op. */
  private def injectFailure(i: Int): Unit =
    if (i == injectAt)
      throw new IllegalStateException(s"injected failure in op $i")

  // -------------------------------------------------------- flow_sweep

  private def flowSweep(): Unit = {
    val polls = str("polls_dir")
    val pollDir = s"$runDir/poll"
    val outDir = s"$runDir/out"
    val yaml = Harness.flowYaml(pollDir, outDir)
    Files.write(Paths.get(s"$runDir/flow.yml"), yaml.getBytes("UTF-8"))
    setupMark("staged_ms")
    closedLoop { (i, key, tracedOp) =>
      // untimed: fresh poll into GetFile's directory, empty PutFile dirs
      Harness.clear(new File(pollDir)); Harness.clear(new File(outDir))
      new File(pollDir).mkdirs()
      val src = new File(s"$polls/$key")
      require(src.isDirectory, s"no generated poll $key")
      src.listFiles().foreach(f => Files.copy(f.toPath,
        Paths.get(pollDir, f.getName), StandardCopyOption.REPLACE_EXISTING))
      val rec = new JMap[String, Object]()
      val opStart = clock.epochNs()
      val (flow, res, rows) = trace.span("op", "bench", i, tracedOp) {
        group(i, "build", tracedOp)
        val flow = trace.span("flow.parse", "flow", i, tracedOp) {
          FlowConfig.parse(yaml)
        }
        val res = trace.span("flow.build", "flow", i, tracedOp) {
          FlowRunner.run(spark, flow)
        }
        injectFailure(i)
        group(i, "consume", tracedOp)
        val rows = trace.span("sweep.consume", "exec", i, tracedOp) {
          Seq("putLogs", "putEvents").map(p =>
            res.output(p).select(lit(p).as("proc"), col("relationship"),
              md5(col("content").cast("binary")).as("md5"),
              Harness.inheritMiss.as("miss")))
            .reduce(_ unionByName _).collect()
        }
        res.release()
        (flow, res, rows)
      }
      val opEnd = clock.epochNs()
      // untimed from here: the record for the checks
      val byProc = rows.groupBy(_.getString(0)).map { case (p, rs) =>
        p -> Json.obj(
          "relationships" -> rs.groupBy(_.getString(1))
            .map { case (r, x) => r -> Int.box(x.length) }.asJava,
          "md5" -> rs.filter(_.getString(1) == "success")
            .map(_.getString(2)).toSeq.asJava,
          "files" -> Int.box(Option(new File(
            s"$outDir/${if (p == "putLogs") "logs" else "events"}")
            .list()).map(_.length).getOrElse(0)))
      }
      rec.put("outputs", byProc.asJava)
      rec.put("items", Int.box(src.list().length))
      rec.put("attr_inherit_misses", Int.box(
        rows.count(r => r.getString(0) == "putLogs" && r.getBoolean(3))))
      if (tracedOp) {
        group(i, "post", tracedOp)
        rec.put("fanout_persists", Int.box(res.persisted.size))
        rec.put("flowfiles_out", Int.box(rows.length))
        // relationship counts of every non-sink processor (the sinks' own
        // rows were consumed above; re-running them would write again)
        val counts = res.outputs.toSeq
          .filterNot { case (id, _) => id.startsWith("put") }
          .map { case (_, df) => df.groupBy("relationship").count().collect() }
        val all = counts.flatten.map(_.getLong(1)).sum + rows.length
        val failed = counts.flatten.filter(_.getString(0) == "failure")
          .map(_.getLong(1)).sum + rows.count(_.getString(1) == "failure")
        rec.put("failure_share", Double.box(
          if (all == 0) 0.0 else failed.toDouble / all))
        val els = flow.processors.flatMap(_.properties.values)
          .filter(_.contains("${"))
        trace.span("el.compile", "el", i, tracedOp) {
          els.foreach(e => ElCompiler.template(e))
        }
        rec.put("el_expressions", Int.box(els.size))
      }
      spark.sparkContext.clearJobGroup()
      rec.put("op_start_ns", Long.box(opStart))
      rec.put("op_end_ns", Long.box(opEnd))
      rec
    }
  }

  // ------------------------------------------------------- curate_dclm

  private def curateDclm(): Unit = {
    val corpusDir = str("corpus_dir")
    Files.write(Paths.get(s"$runDir/oracle.sql"),
      SparkEntry.oracleSql("dclm_e2e").getBytes("UTF-8"))
    val query = SparkEntry.queries("dclm_e2e")
    setupMark("staged_ms")
    closedLoop { (i, _, tracedOp) =>
      val dest = s"$runDir/out/op-$i"
      val opStart = clock.epochNs()
      trace.span("op", "bench", i, tracedOp) {
        group(i, "build", tracedOp)
        val df = trace.span("pipeline.build", "pipeline", i, tracedOp) {
          query(spark, corpusDir)
        }
        injectFailure(i)
        group(i, "write", tracedOp)
        trace.span("pipeline.write", "pipeline", i, tracedOp) {
          df.write.mode("overwrite").parquet(dest)
        }
      }
      val opEnd = clock.epochNs()
      spark.sparkContext.clearJobGroup()
      Json.obj("output" -> dest, "items" -> plan.get("docs"),
        "op_start_ns" -> Long.box(opStart), "op_end_ns" -> Long.box(opEnd))
    }
  }

  // ------------------------------------------------------- tail_stream

  private def tailStream(): Unit = {
    val tailDir = str("tail_dir")
    val sinkDir = s"$runDir/sink"
    val yaml = Harness.tailYaml(tailDir, s"$runDir/files")
    Files.write(Paths.get(s"$runDir/flow.yml"), yaml.getBytes("UTF-8"))
    val progress = ArrayBuffer[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress.json }
    })
    def batches: Seq[Map[String, Object]] = progress.synchronized {
      progress.toSeq.map(j => Json.parse(j).asScala.toMap)
    }
    def durMs(b: Map[String, Object]): Long =
      b("durationMs").asInstanceOf[java.util.Map[String, Object]]
        .get("triggerExecution").toString.toLong

    val flow = trace.span("flow.parse", "flow", -1, traced) {
      FlowConfig.parse(yaml)
    }
    val source = flow.processors.find(_.kind == "TailFile").get
    val periodMs = Units.parseDurationMs(source.schedulingPeriod)
    val routed = trace.span("streaming.assemble", "streaming", -1, traced) {
      FlowStreaming.assemble(spark, flow)
    }
    val q = trace.span("streaming.start", "streaming", -1, traced) {
      FlowRuntime.relationshipSink(routed, sinkDir)
        .trigger(FlowRuntime.trigger(source.schedulingStrategy, periodMs))
        .option("checkpointLocation", s"$runDir/checkpoint")
        .start()
    }
    // each backlog round's files appear at once (renames) and the round
    // is committed before the next one lands
    def drain(prefix: String): Unit =
      new File(str("drain_dir")).listFiles().filter(_.getName.startsWith(prefix))
        .sortBy(_.getName).foreach { r =>
          r.listFiles().sortBy(_.getName).foreach { f =>
            Files.move(f.toPath, Paths.get(tailDir, f.getName),
              StandardCopyOption.ATOMIC_MOVE)
          }
          q.processAllAvailable()
        }
    // warm-up rounds: the first large batches compile code paths that the
    // live batches never reach
    trace.span("streaming.drain_warmup", "streaming", -1, traced)(drain("w"))
    setupMark("staged_ms")
    val liveFrom = batches.size
    val appender = new ProcessBuilder(
      plan.get("appender").asInstanceOf[java.util.List[String]])
      .redirectErrorStream(true)
      .redirectOutput(new File(s"$runDir/appender.log")).start()
    try {
      // warm-up: until the last few live batch durations agree and fit in
      // the trigger period
      val deadline = System.nanoTime() + Harness.TailWarmMaxS * 1000000000L
      def settled: Boolean = {
        val d = batches.drop(liveFrom)
          .filter(_("numInputRows").toString.toLong > 0).map(durMs)
        d.size >= Harness.TailWarmMin && {
          val last = d.takeRight(3)
          last.max <= periodMs && last.max <= Harness.TailSettle * last.min
        }
      }
      while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
      require(settled, "tail stream did not settle")
      setupMark("ready_ms")
      locally {
        val gc0 = gcMs()
        val t0 = clock.epochNs()
        // traced runs: first half untraced, second half traced
        val half = t0 + (seconds * 5e8).toLong
        if (traced) {
          while (clock.epochNs() < half) Thread.sleep(10)
          attachListeners()
        }
        memoryPeaksReset()
        val t1 = t0 + (seconds * 1e9).toLong
        while (clock.epochNs() < t1) Thread.sleep(10)
        out.put("measure", Json.obj("start_ns" -> Long.box(t0),
          "traced_from_ns" -> Long.box(if (traced) half else t1),
          "end_ns" -> Long.box(clock.epochNs()),
          "gc_ms" -> Long.box(gcMs() - gc0)))
        Files.createFile(Paths.get(str("stop_file")))
        appender.waitFor()
        trace.span("streaming.catchup", "streaming", -1, traced) {
          q.processAllAvailable()
        }
        val drainStart = clock.epochNs()
        trace.span("streaming.drain", "streaming", -1, traced)(drain("m"))
        out.put("drain", Json.obj("start_ns" -> Long.box(drainStart),
          "end_ns" -> Long.box(clock.epochNs())))
      }
      q.stop()
      Option(q.exception.orNull).foreach(e => throw e)
    } finally {
      if (appender.isAlive) {
        Files.deleteIfExists(Paths.get(str("stop_file")))
        Files.createFile(Paths.get(str("stop_file")))
        if (!appender.waitFor(10, java.util.concurrent.TimeUnit.SECONDS))
          appender.destroyForcibly().waitFor()
      }
      out.put("progress", progress.synchronized(progress.toSeq).asJava)
      out.put("trigger_period_ms", Long.box(periodMs))
    }
  }

  // --------------------------------------------------------- listeners

  private def attachListeners(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    plans.enabled = true
  }

  /** Listener callbacks arrive on the listener bus after the action
    * returns; wait until every started job has ended and the bus is
    * quiet. */
  private def waitForListeners(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (exec.open > 0 ||
        exec.events + plans.events != last)) {
      last = exec.events + plans.events
      Thread.sleep(300)
    }
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def memoryPeaksReset(): Unit = heapPools.foreach(_.resetPeakUsage())

  private def jvmStats(): JMap[String, Object] = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L) finally status.close()
    Json.obj("vm_hwm_kb" -> Long.box(hwmKb),
      "gc_ms" -> Long.box(gcMs()),
      "heap_peak_bytes" -> Long.box(heapPools.map(_.getPeakUsage.getUsed).sum))
  }
}

object Harness {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    new Harness(Json.read(args(0))).run()
  }

  val WarmMin = 3
  val WarmMax = 8
  val WarmTolerance = 0.25
  val TailWarmMin = 3
  val TailWarmMaxS = 60L
  val TailSettle = 1.5

  /** True when a FlowFile lacks an attribute the reference would carry
    * into a merged FlowFile: SplitText copies its parent's attributes
    * into every child (ProcessSession::create(parent)), so the merge of a
    * file's splits keeps GetFile's and UpdateAttribute's attributes. */
  val InheritedAttrs = Seq("filename", "path", "absolute.path", "kind")
  def inheritMiss = InheritedAttrs.map(a =>
      element_at(col("attributes"), a).isNull).reduce(_ || _)

  def clear(d: File): Unit = {
    if (d.isDirectory) d.listFiles().foreach(clear)
    d.delete()
  }

  def flowYaml(pollDir: String, outDir: String): String =
    s"""MiNiFi Config Version: 3
       |Flow Controller:
       |  name: perfbench flow sweep
       |Processors:
       |- name: get
       |  id: get
       |  class: org.apache.nifi.minifi.processors.GetFile
       |  scheduling strategy: TIMER_DRIVEN
       |  scheduling period: 1 sec
       |  Properties:
       |    Input Directory: $pollDir
       |    Keep Source File: 'true'
       |- name: tag
       |  id: tag
       |  class: org.apache.nifi.minifi.processors.UpdateAttribute
       |  Properties:
       |    kind: $${filename:substringAfterLast('.')}
       |    poll.group: $${filename:substringBefore('-'):toUpper()}
       |    name.length: $${filename:length():plus(1)}
       |- name: route
       |  id: route
       |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
       |  auto-terminated relationships list: [unmatched]
       |  Properties:
       |    logs: $${kind:equals('log')}
       |    events: $${kind:equals('json'):and($${filename:startsWith('ev')})}
       |- name: split
       |  id: split
       |  class: org.apache.nifi.minifi.processors.SplitText
       |  auto-terminated relationships list: [original, failure]
       |  Properties:
       |    Line Split Count: '1'
       |- name: mask
       |  id: mask
       |  class: org.apache.nifi.minifi.processors.ReplaceText
       |  Properties:
       |    Replacement Strategy: Regex Replace
       |    Evaluation Mode: Line-by-Line
       |    Search Value: doc=([0-9]+)
       |    Replacement Value: doc#$$1
       |- name: merge
       |  id: merge
       |  class: org.apache.nifi.minifi.processors.MergeContent
       |  auto-terminated relationships list: [failure]
       |  Properties:
       |    Merge Strategy: Defragment
       |    Demarcator: "\\n"
       |- name: putLogs
       |  id: putLogs
       |  class: org.apache.nifi.minifi.processors.PutFile
       |  auto-terminated relationships list: [success, failure]
       |  Properties:
       |    Directory: $outDir/logs
       |    Conflict Resolution Strategy: fail
       |- name: convert
       |  id: convert
       |  class: org.apache.nifi.minifi.processors.ConvertRecord
       |  auto-terminated relationships list: [failure]
       |  Properties:
       |    Record Reader: json-reader
       |    Record Writer: csv-writer
       |- name: putEvents
       |  id: putEvents
       |  class: org.apache.nifi.minifi.processors.PutFile
       |  auto-terminated relationships list: [success, failure]
       |  Properties:
       |    Directory: $outDir/events
       |    Conflict Resolution Strategy: fail
       |Connections:
       |- {id: c1, source id: get, source relationship names: [success], destination id: tag}
       |- {id: c2, source id: tag, source relationship names: [success], destination id: route}
       |- {id: c3, source id: route, source relationship names: [logs], destination id: split}
       |- {id: c4, source id: split, source relationship names: [splits], destination id: mask}
       |- {id: c5, source id: mask, source relationship names: [success], destination id: merge}
       |- {id: c6, source id: merge, source relationship names: [merged], destination id: putLogs}
       |- {id: c7, source id: route, source relationship names: [events], destination id: convert}
       |- {id: c8, source id: convert, source relationship names: [success], destination id: putEvents}
       |Controller Services:
       |- id: json-reader
       |  name: json-reader
       |  class: JsonTreeReader
       |  Properties:
       |    Schema Text: "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE"
       |- id: csv-writer
       |  name: csv-writer
       |  class: CSVRecordSetWriter
       |""".stripMargin

  def tailYaml(tailDir: String, filesDir: String): String =
    s"""MiNiFi Config Version: 3
       |Flow Controller:
       |  name: perfbench tail stream
       |Processors:
       |- name: tail
       |  id: tail
       |  class: org.apache.nifi.minifi.processors.TailFile
       |  scheduling strategy: TIMER_DRIVEN
       |  scheduling period: 1 sec
       |  Properties:
       |    tail-mode: Multiple file
       |    tail-base-directory: $tailDir
       |    File to Tail: .*\\.log
       |    Initial Start Position: Beginning of File
       |- name: route
       |  id: route
       |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
       |  auto-terminated relationships list: [unmatched]
       |  Properties:
       |    app: $${filename:endsWith('.log')}
       |- name: defrag
       |  id: defrag
       |  class: org.apache.nifi.minifi.processors.DefragmentText
       |  Properties:
       |    Pattern: "^<"
       |    Pattern Location: Start of Message
       |- name: put
       |  id: put
       |  class: org.apache.nifi.minifi.processors.PutFile
       |  auto-terminated relationships list: [success, failure]
       |  Properties:
       |    Directory: $filesDir
       |    Conflict Resolution Strategy: fail
       |Connections:
       |- {id: c1, source id: tail, source relationship names: [success], destination id: route}
       |- {id: c2, source id: route, source relationship names: [app], destination id: defrag}
       |- {id: c3, source id: defrag, source relationship names: [success], destination id: put}
       |""".stripMargin
}
