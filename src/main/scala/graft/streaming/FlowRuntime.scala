package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/**
 * Flow-graph runtime glue — SURVEY §2.10/§3.1.
 *
 * The reference's scheduling/connection plane maps onto Structured
 * Streaming: a processor chain is a DataFrame transform composition, a
 * Connection hand-off is a micro-batch boundary, and per-relationship
 * fan-out (ProcessSession::routeFlowFile, ProcessSession.cpp:804) becomes a
 * relationship-partitioned sink — Spark's file sink partitioned by the
 * relationship column, so each edge lands in its own directory without
 * N separate filtered queries.
 *
 * The file sink is exactly-once: it writes part files in place, commits
 * them with one `_spark_metadata` log entry per batch, and skips a batch
 * id its log already holds, so a restart that re-runs the last batch
 * adds no rows. Readers see only committed files when they read the sink
 * root (`spark.read.parquet(root)`). The same log makes the sink single-
 * writer: a root belongs to one checkpoint (see `FlowStreaming`'s guard).
 * Checkpoint and sink logs on local paths commit through
 * [[LocalCheckpointFileManager]].
 */
object FlowRuntime {

  /** Scheduling strategy → Trigger (TimerDrivenSchedulingAgent.cpp:28,
    * EventDrivenSchedulingAgent.cpp:39, CronDrivenSchedulingAgent.cpp —
    * cron fires an external AvailableNow run at the instants
    * [[cronDelayMs]] computes from the scheduling period's Quartz
    * expression). */
  def trigger(strategy: String, periodMs: Long = 1000): Trigger =
    strategy match {
      case "TIMER_DRIVEN" => Trigger.ProcessingTime(periodMs)
      case "EVENT_DRIVEN" => Trigger.ProcessingTime(0)
      case "CRON_DRIVEN"  => Trigger.AvailableNow()
      case other => throw new IllegalArgumentException(s"unknown strategy $other")
    }

  /** Milliseconds from `now` until a CRON_DRIVEN source's next scheduled
    * drain: the scheduling period carries the Quartz expression
    * (CronDrivenSchedulingAgent.cpp uses utils::Cron the same way) —
    * None when the schedule never fires again. */
  def cronDelayMs(cronExpr: String,
                  now: java.time.LocalDateTime =
                    java.time.LocalDateTime.now()): Option[Long] =
    Cron(cronExpr).calculateNextTrigger(now)
      .map(next => java.time.Duration.between(now, next).toMillis)

  /** ProcessorMetrics' transfer ledger (ProcessSession.cpp:858-866:
    * FlowFile count + content bytes per relationship recorded at each
    * session commit) — the micro-batch IS the session commit here, so
    * observed metrics on the routed frame surface the same ledger per
    * batch through QueryProgressEvent.observedMetrics (and through
    * QueryExecutionListener for a batch sweep). Executor-side accumulator
    * arithmetic only — no extra action, no shuffle. */
  def observeTransfers(routed: DataFrame, relationships: Seq[String],
                       name: String = "transfers"): DataFrame = {
    import graft.core.FlowFrame
    def bytes(filter: Column): Column = coalesce(
      sum(when(filter, length(col(FlowFrame.Content).cast("binary")))),
      lit(0L))
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("rows"), bytes(lit(true)).as("bytes")) ++
        relationships.flatMap(r => Seq(
          count(when(col(FlowFrame.Relationship) === r, 1)).as(s"rows_$r"),
          bytes(col(FlowFrame.Relationship) === r).as(s"bytes_$r")))
    routed.observe(name, aggs.head, aggs.tail: _*)
  }

  /** Relationship-partitioned sink: every micro-batch writes each output
    * edge under <root>/relationship=<name>/ (parquet) and commits the
    * batch in <root>/_spark_metadata. The micro-batch is the reference's
    * per-trigger session commit (ProcessSession.cpp:855). Installs the
    * local checkpoint store on the session first, for sessions that were
    * not built by `graft.Session`. */
  def relationshipSink(routed: DataFrame, root: String): DataStreamWriter[Row] = {
    LocalCheckpointFileManager.install(routed.sparkSession)
    routed.writeStream.format("parquet")
      .partitionBy("relationship")
      .option("path", root)
  }

  /** Start + drain helper for batch-like runs (tests, cron ticks). */
  def runAvailable(writer: DataStreamWriter[Row], checkpoint: String): StreamingQuery = {
    val q = writer.option("checkpointLocation", checkpoint).start()
    q.processAllAvailable()
    q
  }
}
