package graft

import java.nio.file.{Files, Paths}
import graft.pipeline.Staging

/**
 * graft.Dev's listener-based segment accounting, on the dclm_e2e
 * composition (RefinedWeb line pass, paragraph Bloom dedup, classifier
 * training rounds, threshold join — eager staging barriers throughout).
 * The corpus is a small deterministic documents table in the shape the
 * query reads (doc_id, text, source).
 */
class DevSpec extends SparkSpec {

  private lazy val sfDir: String = {
    val dir = Files.createTempDirectory("graft-dev-sf").toString
    spark.createDataFrame((0L until 120L).map { i =>
      val words = (0 until 45).map(j => s"w${(i * 7 + j * 3 + j / 10 * i) % 31}")
      (i, words.mkString(" "), s"src${i % 4}")
    }).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def withMode[T](mode: String)(body: => T): T = {
    val prev = spark.conf.getOption(Staging.ConfKey)
    spark.conf.set(Staging.ConfKey, mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Staging.ConfKey, v)
      case None    => spark.conf.unset(Staging.ConfKey)
    }
  }

  /** `Dev.plan` of dclm_e2e under `mode`: its barrier section count. */
  private def barrierSections(mode: String): Int = withMode(mode) {
    val out = Files.createTempDirectory(s"graft-dev-plan-$mode").toString
    Dev.plan(spark, sfDir, out, Seq("dclm_e2e"))
    val text = new String(
      Files.readAllBytes(Paths.get(out, "dclm_e2e.txt")), "UTF-8")
    assert(text.startsWith(s"== dclm_e2e @ $sfDir ==\n== Physical Plan =="))
    text.linesIterator.count(_.startsWith("== staged segment "))
  }

  test("Dev.plan writes one section per executed barrier: the same count " +
       "under local and reliable staging, none under none") {
    spark.sparkContext.setCheckpointDir(
      Files.createTempDirectory("graft-dev-ckpt").toString)
    val local = barrierSections("local")
    assert(local > 0)
    assert(barrierSections("reliable") === local)
    assert(barrierSections("none") === 0)
  }

  test("Dev.pushedFilters: no filter sinks below docsPar's round-robin " +
       "exchange in dclm_e2e or curate_filters_e2e; a filter over a " +
       "repartition counts") {
    Seq("dclm_e2e", "curate_filters_e2e").foreach { q =>
      val r = Dev.run(spark)(SparkEntry.queries(q)(spark, sfDir))(Dev.execute)
      assert(Dev.pushedFilters(r) === 0, q)
    }
    val sunk = Dev.run(spark)(
      spark.read.parquet(s"$sfDir/documents.parquet").repartition(2)
        .filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0))(
      Dev.execute)
    assert(Dev.pushedFilters(sunk) === 1)
  }

  test("Dev.time segments partition the run: per-segment job counts sum " +
       "to the listener's total for the query") {
    val Seq(("dclm_e2e", Seq(run))) = Dev.time(spark, sfDir, 1, Seq("dclm_e2e"))
    assert(run.jobs > 0)
    assert(run.segments.map(_.jobs).sum === run.jobs)
    // every segment but the final one closes at a barrier, labelled by
    // the pipeline frame that staged it
    assert(run.segments.init.nonEmpty)
    assert(run.segments.init.forall(_.barrier.isDefined))
    assert(run.segments.last.barrier.isEmpty)
    assert(run.segments.init.forall(s =>
      s.label.startsWith("graft.") && !s.label.contains("Staging")))
  }
}
