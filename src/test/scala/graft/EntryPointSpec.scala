package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The program has four entry points — Bench, Verify, EntrySmoke and Dev —
 * over one session builder (`Session`). A new main or a second builder is
 * how hand-copied pipeline fragments and drifting session settings crept
 * in before; attribution work belongs in `graft.Dev`. Jobs and staged
 * segments are counted by one listener, Dev's tracer, which Bench's rows
 * run through too; a second hand-rolled counter would drift from it.
 * TailFile has one reader for batch flows, streaming flows and Bench.
 * Per-execution values (the run's time, uuid seeds) reach generated code
 * only through FlowFrame's helpers, so a repeated plan compiles nothing.
 */
class EntryPointSpec extends AnyFunSuite {
  /** Every main source file, path relative to the source root -> text. */
  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toList
    finally walk.close()
  }

  private def filesMatching(re: String): Seq[String] =
    sources.collect { case (f, text) if re.r.findFirstIn(text).isDefined => f }
      .sorted

  test("only Bench, Verify, EntrySmoke and Dev define a main") {
    assert(sources.nonEmpty)
    assert(filesMatching("""def\s+main\s*\(|extends\s+App\b""") === Seq(
      "graft/Bench.scala", "graft/Dev.scala", "graft/EntrySmoke.scala",
      "graft/Verify.scala"))
  }

  test("SparkSession.builder appears only in Session.scala") {
    assert(filesMatching("""SparkSession\s*\.\s*builder""") ===
      Seq("graft/Session.scala"))
  }

  test("one job and segment listener: Dev's tracer is the only " +
       "SparkListener, and the only QueryExecutionListener besides " +
       "provenance") {
    assert(filesMatching("""(extends|with|new)\s+SparkListener\b""") ===
      Seq("graft/Dev.scala"))
    assert(filesMatching("""(extends|with|new)\s+QueryExecutionListener\b""") ===
      Seq("graft/Dev.scala", "graft/streaming/Provenance.scala"))
  }

  test("one TailFile reader: only Processors.tailFile opens " +
       "TailFileSource, and flow/ reads no text files") {
    val opens = sources.flatMap { case (f, text) =>
      "graft.streaming.TailFileSource".r.findAllIn(text).map(_ => f) }
    assert(opens === Seq("graft/flow/FlowRunner.scala"))
    assert(sources.filter(_._1.startsWith("graft/flow/"))
      .filter(_._2.contains("textFile(")).map(_._1) === Nil)
  }

  test("current_timestamp() and uuid() appear in code only in FlowFrame, " +
       "behind FlowFrame.entryTime and FlowFrame.newUuid") {
    val call = """(?<![\w.])(current_timestamp|uuid)\(\)""".r
    val calls = sources.flatMap { case (f, text) =>
      text.linesIterator.map(_.replaceAll("//.*", "").trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("/*"))
        .filter(l => call.findFirstIn(l).isDefined).map(_ => f)
    }.distinct
    assert(calls.filterNot(_ == "graft/core/FlowFrame.scala") === Nil)
  }
}
