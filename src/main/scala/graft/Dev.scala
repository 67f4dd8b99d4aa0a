package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.GraftListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{ExplainMode, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Dev entry point for attributing a registered query's cost:
 *
 *   runMain graft.Dev time <sfDir> <reps> <query...>
 *   runMain graft.Dev plan <sfDir> <outDir> <query...>
 *
 * `time` runs each query through the noop sink (full output
 * materialization, Bench's discipline) and prints per-rep wall time, jobs
 * and Janino compiles, the min over reps, and the rep's per-segment
 * breakdown. Not a published number: no staged corpora, no warm-up beyond
 * rep 0. A failed rep is reported like a failed Bench row, with its error
 * and no min, and the command exits non-zero.
 *
 * `plan` executes each query's own frame (so AQE has settled) and writes
 * `<outDir>/<query>.txt`: the formatted final plan, then one
 * `== staged segment <n> ==` section per executed staging barrier, whose
 * plan the barrier otherwise truncates out of the final one. It prints the
 * exchange and codegen-operator counts over the whole file, and the
 * [[pushedFilters]] count over the same plans.
 *
 * A *segment* is the work a query does up to one executed
 * [[graft.pipeline.Staging]] barrier — a `localCheckpoint`/`checkpoint`
 * action — with a final segment from the last barrier to the end of the
 * run. Both come from listeners on the real query, so the breakdown never
 * drifts from the pipeline code. Under `spark.graft.staging=none` no
 * barrier executes and a run is a single segment.
 *
 * SPARK_GRAFT_CPUS sets the core count (default 32, like Bench).
 */
object Dev {
  /** One segment: its wall time, the jobs it ran and, unless it is the
    * final segment, the executed barrier that closed it. */
  final case class Segment(label: String, wallMs: Long, jobs: Int,
                           barrier: Option[QueryExecution])

  /** One traced rep: `jobs` is the listener's total for the rep and
    * `compiles` the number of classes Janino compiled during it (codegen
    * cache misses, JVM-wide), a count machine noise does not move. A plan
    * that generates the same source as an earlier run compiles nothing. */
  final case class Trace(wallS: Double, jobs: Int, compiles: Long,
                         segments: Seq[Segment])

  /** Classes compiled by Spark's code generator in this JVM so far. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One traced run of one query, with the frame it built. */
  final case class Run(df: DataFrame, trace: Trace)

  private val BarrierActions = Set("localCheckpoint", "checkpoint")

  /** Counts jobs and closes a segment at every executed barrier. Both
    * interfaces are called on the listener bus's shared queue, in event
    * order, so a barrier's SQL execution start and its jobs are seen
    * before its success. */
  private final class Segments(startMs: Long)
      extends SparkListener with QueryExecutionListener {
    private var total = 0
    private var jobs = 0
    private var lastEndMs = startMs
    private var execStartMs = startMs
    private var callSite = ""
    private val closed = ArrayBuffer[Segment]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      total += 1; jobs += 1
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) => synchronized {
        execStartMs = s.time; callSite = s.details
      }
      case _ =>
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (BarrierActions(funcName)) synchronized {
        val endMs = execStartMs + durationNs / 1000000
        closed += Segment(label(callSite), endMs - lastEndMs, jobs, Some(qe))
        lastEndMs = endMs; jobs = 0
      }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()

    /** The closed segments plus the final one, ending at `endMs`. */
    def result(endMs: Long): (Int, Seq[Segment]) = synchronized {
      (total, closed.toSeq :+ Segment("(final)", endMs - lastEndMs, jobs, None))
    }
  }

  /** The first frame of a call site (Spark's long form, one frame per
    * line) outside Spark, Scala and the Staging helper itself — the
    * pipeline line that staged the frame — with the compiler's `$`
    * mangling dropped: `graft.pipeline.Classifier.logisticModel(...)`. */
  private def label(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(f =>
      !f.startsWith("org.apache.spark.") && !f.startsWith("scala.") &&
        !f.startsWith("graft.pipeline.Staging"))
      .map(_.replaceAll("\\$anonfun\\$|\\$adapted|\\$\\d+|\\$", ""))
      .getOrElse("(unknown)")

  /** Run `body` under the segment listener and return its value with the
    * trace. The one tracer: Bench's rows, `time` and `plan` all use it. A
    * failure propagates once the listener is removed. */
  def trace[T](spark: SparkSession)(body: => T): (T, Trace) = {
    // events of earlier, untraced work (a warm pass, a failed rep) must
    // not reach this listener
    GraftListenerBus.drain(spark.sparkContext)
    val t0 = System.nanoTime()
    val c0 = compiles()
    val segs = new Segments(System.currentTimeMillis())
    spark.sparkContext.addSparkListener(segs)
    spark.listenerManager.register(segs)
    try {
      val value = body
      val endMs = System.currentTimeMillis()
      val wallS = (System.nanoTime() - t0) / 1e9
      val compiled = compiles() - c0
      GraftListenerBus.drain(spark.sparkContext)
      val (jobs, segments) = segs.result(endMs)
      (value, Trace(wallS, jobs, compiled, segments))
    } finally {
      spark.listenerManager.unregister(segs)
      spark.sparkContext.removeSparkListener(segs)
    }
  }

  /** Build a frame with `build`, finish it with `act`, and return the run
    * split into segments. */
  def run(spark: SparkSession)(build: => DataFrame)(
      act: DataFrame => Unit): Run = {
    val (df, t) = trace(spark) { val df = build; act(df); df }
    Run(df, t)
  }

  /** `n` traced reps of `body`, each passed through `keep`, or the first
    * rep's failure. The one failure convention: a failed rep ends its row,
    * and the row publishes no time, because a crash's time-to-exception
    * would read as a fast valid rep. `keep` runs right after its rep, so a
    * caller can drop the barrier plans, and the staged data they hold on
    * to, before the next rep starts. */
  def measure[T](spark: SparkSession, n: Int)(body: => Unit)(
      keep: Trace => T): Either[Throwable, Seq[T]] =
    try Right((0 until n).map(_ => keep(trace(spark)(body)._2)))
    catch { case e: Throwable => Left(e) }

  /** Filter nodes under a round-robin exchange in a run's final plan and
    * its barrier plans, each counted once. A filter over `repartition(n)`
    * (SparkEntry's `docsPar`) sinks below the exchange and runs on the
    * pre-shuffle partitions — one task on a one-file scan — and the
    * projection under it runs again after the shuffle. Stage the
    * expensive columns first and filter the staged frame. */
  def pushedFilters(r: Run): Int = {
    def walk(p: SparkPlan, underRoundRobin: Boolean): Int = {
      val rr = underRoundRobin || (p match {
        case e: ShuffleExchangeLike =>
          e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => false
      })
      val children = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => p.children
      }
      (p match {
        case _: FilterExec if underRoundRobin => 1
        case _ => 0
      }) + children.map(walk(_, rr)).sum
    }
    (r.df.queryExecution +: r.trace.segments.flatMap(_.barrier))
      .map(qe => walk(qe.executedPlan, underRoundRobin = false)).sum
  }

  /** Execute the frame itself, so its own AQE plan settles: a write
    * would plan a separate command and leave it non-final. */
  def execute(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  /** Materialize the full output through the noop sink, discarding it
    * executor-side: no driver collect, no files. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Every query's traces, printed as they are read. A query whose rep
    * fails prints its error instead of a min, and `time` throws once
    * every query has run. */
  def time(spark: SparkSession, sfDir: String, reps: Int,
           names: Seq[String]): Seq[(String, Seq[Trace])] = {
    val (failed, timed) = names.map { name =>
      val rep = Iterator.from(0)
      val result = measure(spark, reps)(
          noop(SparkEntry.queries(name)(spark, sfDir))) { r =>
        println(f"[dev time] $name rep=${rep.next()} wall=${r.wallS}%.3f s " +
          s"jobs=${r.jobs} compiles=${r.compiles}")
        r.segments.zipWithIndex.foreach { case (s, j) =>
          println(f"[dev time]   seg ${j + 1}%2d ${s.wallMs / 1e3}%8.3f s " +
            f"jobs=${s.jobs}%3d  ${s.label}")
        }
        r
      }
      println(result.fold(e => s"[dev time] $name failed: $e", runs =>
        f"[dev time] $name min=${runs.map(_.wallS).min}%.3f " +
          s"reps=${runs.map(r => f"${r.wallS}%.3f").mkString(",")}"))
      result.left.map(name -> _).map(name -> _)
    }.partitionMap(identity)
    if (failed.nonEmpty) throw new IllegalStateException(
      s"failed_rows: ${failed.map(_._1).mkString(", ")}", failed.head._2)
    timed
  }

  def plan(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    def formatted(qe: QueryExecution): String =
      qe.explainString(ExplainMode.fromString("formatted"))
    names.foreach { name =>
      val r = run(spark)(SparkEntry.queries(name)(spark, sfDir))(execute)
      val barriers = r.trace.segments.flatMap(_.barrier)
      val plan = formatted(r.df.queryExecution) +
        barriers.zipWithIndex.map { case (qe, i) =>
          s"== staged segment ${i + 1} ==\n" + formatted(qe)
        }.mkString("\n", "\n", "")
      Files.write(Paths.get(s"$outDir/$name.txt"),
        (s"== $name @ $sfDir ==\n" + plan).getBytes("UTF-8"))
      val lines = plan.linesIterator.toSeq
      val exchanges = lines.count(l =>
        l.contains(") Exchange") || l.contains("Exchange ("))
      // formatted mode tags each codegen'd operator with [codegen id : n]
      val codegenOps = lines.count(_.contains("codegen id"))
      println(s"[dev plan] $name exchanges=$exchanges " +
        s"codegen-operators=$codegenOps pushed-filters=${pushedFilters(r)} " +
        s"barriers=${barriers.size} " +
        s"-> $outDir/$name.txt")
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Dev time <sfDir> <reps> <query...> | " +
      "Dev plan <sfDir> <outDir> <query...>"
    require(args.length >= 4 && Set("time", "plan")(args(0)), usage)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session(s"local[$cpus]", cpus)
    try args(0) match {
      case "time" => time(spark, args(1), args(2).toInt, args.drop(3).toSeq)
      case "plan" => plan(spark, args(1), args(2), args.drop(3).toSeq)
    } finally spark.stop()
  }
}
