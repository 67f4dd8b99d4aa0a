package graft

/** Mirrors the driver's smoke check: `SparkEntry.entry` on sf0.001 must
  * return rows. Usage: `sbt "runMain graft.EntrySmoke"`. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"), 8)
    try {
      val n = SparkEntry.entry(spark).count()
      println(s"ENTRY_ROWS=$n")
      require(n > 0, "entry returned no rows")
    } finally spark.stop()
  }
}
