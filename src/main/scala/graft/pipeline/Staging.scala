package graft.pipeline

import org.apache.spark.sql.DataFrame

/**
 * Pluggable single-scan staging barrier — the one knob behind every
 * "compute once, consume many times" site in the pipeline family
 * (BM25's query-matching sliver, the Lloyd round frames, the PQ/IVFADC
 * encoded index, D4's phase barrier, the KMV sketch slim frame).
 *
 * Modes, via the session conf `spark.graft.staging`:
 *
 *  - `local` (default): `localCheckpoint` — executor-storage blocks, the
 *    fastest barrier. NOT fault-tolerant: an executor loss kills the job
 *    instead of recomputing (acceptable on a single node / short batch;
 *    the local[32] bench default).
 *  - `reliable`: `checkpoint` — writes to the SparkContext checkpoint
 *    dir (`sc.setCheckpointDir`, HDFS/object-store in a deployment), so
 *    a 100 TB run survives executor loss at the cost of one durable
 *    write+read per barrier. Requires the checkpoint dir to be set.
 *  - `none`: no barrier — pure lineage. Every consumer recomputes the
 *    upstream plan, and round-loop callers (Lloyd) grow their plan
 *    geometrically per round; meant for plan-equivalence tests and
 *    debugging only, never for the round loops at scale.
 *
 * All three modes compute the SAME frame — the mode moves only where the
 * bytes live between the producing scan and its consumers (StagingSpec
 * pins result equality across modes).
 *
 * A barrier is a plain `localCheckpoint`/`checkpoint` action, so tooling
 * observes it from outside through listeners (`graft.Dev` splits a query
 * into per-barrier segments that way) — no hook lives here.
 */
object Staging {
  val ConfKey = "spark.graft.staging"

  def stage(df: DataFrame): DataFrame = stage(df, eager = true)

  def stage(df: DataFrame, eager: Boolean): DataFrame =
    df.sparkSession.conf.getOption(ConfKey).getOrElse("local") match {
      case "local"    => df.localCheckpoint(eager)
      case "reliable" => df.checkpoint(eager)
      case "none"     => df
      case other => throw new IllegalArgumentException(
        s"$ConfKey=$other (expected local | reliable | none)")
    }

  /** `df.staged` / `df.stagedLazy` syntax for the call sites. */
  implicit class StagingOps(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
    def stagedLazy: DataFrame = stage(df, eager = false)
  }
}
