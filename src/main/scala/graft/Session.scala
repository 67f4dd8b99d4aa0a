package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder behind every main (Bench, Verify,
  * EntrySmoke, Dev). Each caller resolves its own master and partition
  * count; the session settings every surface shares live here: UTC session
  * time zone, parquet TIMESTAMP(NANOS) read as epoch longs (the events
  * fixture has shipped in both encodings, see `SparkEntry.events`), no UI,
  * WARN logging, the fork-free local checkpoint store for streaming
  * (`streaming.LocalCheckpointFileManager`), and a codegen cache large
  * enough for the biggest recipe. Spark keys its cache of compiled classes
  * by source text and keeps 100 by default; one `dclm_e2e` run generates
  * more distinct classes than that, so each run evicted and compiled again
  * classes it had compiled before. The cache size is a static conf read
  * once per JVM, when the code generator first loads. */
object Session {
  def apply(master: String, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    streaming.LocalCheckpointFileManager.install(spark)
    spark
  }
}
