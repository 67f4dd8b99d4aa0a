package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col
import graft.pipeline.Staging.StagingOps

/**
 * Bench's run-order step list and its one measured loop. Nothing here
 * stages or reads a bench corpus: the step list is only built, and the
 * loop runs on tiny frames.
 */
class BenchSpec extends SparkSpec {
  private lazy val steps = Bench.steps(spark, "/nonexistent/sf")
  private lazy val rows = steps.collect { case r: Bench.Row => r }

  private def parse(json: String): JsonNode = new ObjectMapper().readTree(json)
  private def keys(n: JsonNode): Set[String] = n.fieldNames.asScala.toSet

  private val uniform = new Bench.Corpus("sf", "unused")
  private def tiny(n: Long): Unit = Dev.noop(spark.range(0, n, 1, 2).toDF("id"))

  test("the step list measures the committed BENCH_LATEST.json rows and " +
       "throughput rows, each name once") {
    val committed = parse(new String(
      Files.readAllBytes(Paths.get("BENCH_LATEST.json")), "UTF-8"))
    val names = rows.map(_.name)
    assert(names.size === 117)
    assert(names.distinct.size === names.size)
    assert(names.toSet === keys(committed.get("queries")))
    val throughput = rows.flatMap(_.basis).map(_.name)
    assert(throughput.size === 4)
    assert(throughput.toSet === keys(committed.get("throughput").get("rows")))
    assert(rows.filter(_.headline).map(_.name) === Bench.headline)
  }

  test("run order: two warm passes first, uniform comparator rows before " +
       "any staged corpus, the x10 warm pass before the x10 rows, extra last") {
    val shapes = (Bench.headline ++ Bench.skewed ++ Bench.x10 ++ Bench.extra).distinct
    assert(steps.take(2 * shapes.size).map {
      case Bench.Warm(tag, _) => tag
      case r: Bench.Row => r.name
    } === shapes ++ shapes)
    val firstStaged = rows.indexWhere(_.corpus.name != "sf")
    assert(firstStaged > 0)
    (Bench.headline ++ Bench.skewed ++ Bench.x10).distinct.foreach { name =>
      val i = rows.indexWhere(_.name == name)
      assert(i >= 0 && i < firstStaged && rows(i).corpus.name === "sf", name)
    }
    val firstX10Row = steps.indexWhere {
      case r: Bench.Row => r.name.startsWith("x10_")
      case _ => false
    }
    Bench.x10.foreach { name =>
      val w = steps.indexWhere {
        case Bench.Warm(tag, _) => tag == s"x10 $name"
        case _ => false
      }
      assert(w >= 0 && w < firstX10Row, name)
    }
    assert(rows.takeRight(Bench.extra.size).map(_.name) === Bench.extra)
  }

  test("the loop records a row's jobs and staged segments through Dev's " +
       "tracer, and a failed warm-up does not stop it") {
    val report = Bench.run(spark, Seq(
      Bench.Warm("broken", () => throw new IllegalStateException("warm")),
      Bench.Row("staged", uniform, 2, _ => Dev.noop(
        spark.range(0, 1000, 1, 2).toDF("id").staged
          .filter(col("id") % 7 === 0)), headline = true)))
    assert(report.failed.isEmpty)
    val Seq(m) = report.rows
    assert(m.times.size === 2)
    assert(m.best.jobs > 0)
    assert(m.best.segments.size === 2)
    assert(m.best.segments.map(_.jobs).sum === m.best.jobs)
    assert(m.best.segments.forall(_.barrier.isEmpty))

    val json = parse(report.json("tiny"))
    assert(json.get("value").asDouble === json.get("queries").get("staged").asDouble)
    assert(json.get("sum_all_rows").asDouble === json.get("value").asDouble)
    assert(json.get("spread").get("staged").get("reps").asInt === 2)
    val trace = json.get("trace").get("staged")
    assert(trace.get("jobs").asInt === m.best.jobs)
    assert(trace.get("compiles").asLong === m.best.compiles)
    val segs = trace.get("segments").elements.asScala.toSeq
    assert(segs.map(_.get("jobs").asInt).sum === m.best.jobs)
    assert(segs.map(_.get("label").asText).last === "(final)")
    assert(segs.map(_.get("wall_ms").asLong) === m.best.segments.map(_.wallMs))
    assert(json.get("failed_rows").size === 0)
  }

  test("the tracer counts a rep's Janino compiles: a new literal in the " +
       "generated source compiles, the same source again compiles nothing") {
    def frame(k: Long) = spark.range(0, 10, 1, 2).toDF("id")
      .select((col("id") * k + 987654321L).as("v"))
    val k = System.nanoTime()
    val (_, fresh) = Dev.trace(spark)(Dev.noop(frame(k)))
    val (_, again) = Dev.trace(spark)(Dev.noop(frame(k)))
    assert(fresh.compiles > 0)
    assert(again.compiles === 0)
  }

  test("a row with a failed rep, corpus or basis publishes no number and " +
       "lands in failed_rows; a failed headline row makes value null") {
    var calls = 0
    def flaky(): Unit = {
      calls += 1
      if (calls == 2) throw new IllegalStateException("boom\nsecond line")
      tiny(10)
    }
    val failing = Seq(
      Bench.Row("ok", uniform, 1, _ => tiny(10)),
      Bench.Row("flaky", uniform, 3, _ => flaky(),
        basis = Some(Bench.Basis("flaky_per_sec", _ => 10L))),
      Bench.Row("no_corpus", new Bench.Corpus("skew",
        throw new IllegalStateException("staging")), 3, _ => tiny(10)),
      Bench.Row("no_basis", uniform, 1, _ => tiny(10),
        basis = Some(Bench.Basis("no_basis_per_sec", _ => sys.error("count")))))
    val report = Bench.run(spark, failing)
    assert(calls === 2, "a failed rep ends its row")
    assert(report.rows.map(_.row.name) === Seq("ok"))
    assert(report.failed.map(f => f.row.name -> f.error) === Seq(
      "flaky" -> "java.lang.IllegalStateException: boom",
      "no_corpus" -> "java.lang.IllegalStateException: staging",
      "no_basis" -> "java.lang.RuntimeException: count"))

    val json = parse(report.json("tiny"))
    Seq("queries", "spread", "trace").foreach(k =>
      assert(keys(json.get(k)) === Set("ok"), k))
    assert(json.get("throughput").get("rows").size === 0)
    assert(keys(json.get("failed_rows")) === Set("flaky", "no_corpus", "no_basis"))
    assert(json.get("failed_rows").get("flaky").asText ===
      "java.lang.IllegalStateException: boom")
    assert(json.get("value").asDouble === 0.0)
    assert(json.get("sum_all_rows").isNull)
    assert(keys(parse(report.summary("tiny")).get("failed_rows")) ===
      Set("flaky", "no_corpus", "no_basis"))

    calls = 0
    val headlineFailed = Bench.run(spark,
      failing.take(2).map(_.copy(headline = true)))
    assert(headlineFailed.rows.map(_.row.name) === Seq("ok"))
    Seq(headlineFailed.json("tiny"), headlineFailed.summary("tiny")).foreach { s =>
      val j = parse(s)
      assert(j.get("value").isNull)
      assert(j.get("sum_all_rows").isNull)
      assert(keys(j.get("failed_rows")) === Set("flaky"))
    }
  }

  test("Dev.time reports a failed query with no min and throws after " +
       "every query has run") {
    val e = intercept[IllegalStateException](
      Dev.time(spark, "/nonexistent/sf", 2, Seq("no_such_query", "no_such_either")))
    assert(e.getMessage === "failed_rows: no_such_query, no_such_either")
    assert(e.getCause.isInstanceOf[NoSuchElementException])
  }
}
