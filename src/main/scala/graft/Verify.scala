package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: restrict to the named queries (dev iteration)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Bench's JSON writer escapes backslash, quote and ALL control chars
    // (<0x20): a tab or CR in the oracle SQL would otherwise make the file
    // invalid JSON and every oracle check unreadable
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Bench.js(ListMap.from(SparkEntry.oracleSql)))
    spark.stop()
  }
}
