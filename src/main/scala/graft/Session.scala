package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder behind every main (Bench, Verify,
  * EntrySmoke, Dev). Each caller resolves its own master and partition
  * count; the session settings every surface shares live here: UTC session
  * time zone, parquet TIMESTAMP(NANOS) read as epoch longs (the events
  * fixture has shipped in both encodings, see `SparkEntry.events`), no UI,
  * WARN logging, and the fork-free local checkpoint store for streaming
  * (`streaming.LocalCheckpointFileManager`). */
object Session {
  def apply(master: String, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    streaming.LocalCheckpointFileManager.install(spark)
    spark
  }
}
