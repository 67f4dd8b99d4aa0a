package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import graft.flow.{FlowConfig, FlowStreaming}
import graft.streaming.LocalCheckpointFileManager

/** The local checkpoint store's contract (the one Spark's
  * CheckpointFileManager states for `createAtomic`, `list`, ...), the
  * checkpoint layout it leaves, and the file sink's exactly-once and
  * single-writer behaviour across restarts. */
class CheckpointSpec extends SparkSpec {

  private def tmp(prefix: String): NioPath = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  private def store(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean) = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out
  }

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic: the file is invisible until close, then whole; " +
       "cancel leaves neither the target nor a temp file") {
    val dir = tmp("ckfm_atomic"); val fm = store(dir)
    val target = new Path(dir.toUri.toString, "0")
    val out = write(fm, target, "v1", overwrite = false)
    assert(!fm.exists(target))
    val temps = names(dir)
    assert(temps.size === 1 &&
      temps.forall(n => n.startsWith(".0.") && n.endsWith(".tmp")), temps)
    out.close()
    assert(names(dir) === Set("0"))
    assert(read(fm, target) === "v1")

    val cancelled = write(fm, new Path(dir.toUri.toString, "1"), "x",
      overwrite = true)
    cancelled.cancel()
    cancelled.close() // a spent stream publishes nothing
    assert(names(dir) === Set("0"))
  }

  test("createAtomic: a no-overwrite publish over an existing file throws " +
       "Hadoop's FileAlreadyExistsException and keeps the old bytes; an " +
       "overwrite publish replaces the file") {
    val dir = tmp("ckfm_publish"); val fm = store(dir)
    val target = new Path(dir.toUri.toString, "7")
    write(fm, target, "old", overwrite = false).close()
    val clash = write(fm, target, "new", overwrite = false)
    intercept[FileAlreadyExistsException](clash.close())
    assert(read(fm, target) === "old")
    assert(names(dir) === Set("7"))

    write(fm, target, "newer", overwrite = true).close()
    assert(read(fm, target) === "newer")
    assert(names(dir) === Set("7"))
  }

  test("list, exists, delete, mkdirs and createCheckpointDirectory") {
    val dir = tmp("ckfm_ops")
    val root = new Path(dir.toUri.toString, "ckpt")
    val fm = new LocalCheckpointFileManager(root, new Configuration())
    val made = fm.createCheckpointDirectory()
    assert(made.toUri.getScheme === "file")
    assert(Files.isDirectory(dir.resolve("ckpt")))
    assert(fm.isLocal)

    val offsets = new Path(root, "offsets")
    fm.mkdirs(new Path(offsets, "nested/deeper"))
    fm.mkdirs(offsets) // existing directory: no error
    assert(fm.exists(new Path(offsets, "nested/deeper")))
    Seq("0", "1", "2").foreach(n =>
      write(fm, new Path(offsets, n), n, overwrite = false).close())
    val batches = fm.list(offsets, (p: Path) => p.getName.forall(_.isDigit))
      .map(_.getPath.getName).toSet
    assert(batches === Set("0", "1", "2"))
    assert(fm.list(offsets).map(_.getPath.getName).toSet ===
      Set("0", "1", "2", "nested"))

    fm.delete(new Path(offsets, "1"))
    fm.delete(new Path(offsets, "nested")) // recursive
    fm.delete(new Path(offsets, "missing")) // absent: no error
    assert(!fm.exists(new Path(offsets, "1")))
    assert(names(dir.resolve("ckpt/offsets")) === Set("0", "2"))
  }

  test("files Hadoop wrote with .crc sidecars still open; list hides the " +
       "sidecars, delete and overwrite take them along") {
    val dir = tmp("ckfm_hadoop"); val fm = store(dir)
    val target = new Path(dir.toUri.toString, "3")
    val hadoop = FileSystem.getLocal(new Configuration())
    val out = hadoop.create(target)
    out.write("written by hadoop".getBytes(UTF_8)); out.close()
    assert(names(dir) === Set("3", ".3.crc"))

    assert(read(fm, target) === "written by hadoop")
    assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq ===
      Seq("3"))
    fm.delete(target)
    assert(names(dir).isEmpty)

    // an overwrite drops the now stale sidecar, so Hadoop's checksummed
    // reader still opens the file
    val again = hadoop.create(target)
    again.write("old".getBytes(UTF_8)); again.close()
    write(fm, target, "replaced", overwrite = true).close()
    assert(names(dir) === Set("3"))
    val in = hadoop.open(target)
    try assert(new String(in.readAllBytes(), UTF_8) === "replaced")
    finally in.close()
  }

  private def tailFlow(log: NioPath, stage: String): String =
    s"""MiNiFi Config Version: 3
       |Processors:
       |- name: tail
       |  id: t
       |  class: org.apache.nifi.minifi.processors.TailFile
       |  Properties:
       |    File to Tail: $log
       |$stage""".stripMargin

  private val defragStage =
    """- name: defrag
      |  id: d
      |  class: org.apache.nifi.minifi.processors.DefragmentText
      |  Properties:
      |    Pattern: "^START"
      |Connections:
      |- {id: c1, source id: t, source relationship names: [success], destination id: d}
      |""".stripMargin

  private val tagStage =
    """- name: tag
      |  id: u
      |  class: org.apache.nifi.minifi.processors.UpdateAttribute
      |  Properties:
      |    marker: seen
      |Connections:
      |- {id: c1, source id: t, source relationship names: [success], destination id: u}
      |""".stripMargin

  /** The tag flow with its TailFile drained at every cron second. */
  private def cronFlow(log: NioPath) = FlowConfig.parse(
    tailFlow(log, tagStage).replace("  id: t\n",
      "  id: t\n  scheduling strategy: CRON_DRIVEN\n" +
        "  scheduling period: '* * * * * *'\n"))

  private def files(root: NioPath): Seq[NioPath] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  test("checkpoint layout: the offset, commit and state logs carry no " +
       "Hadoop .crc sidecars, and Spark's own state checksums are there") {
    val dir = tmp("layout_in"); val ckpt = tmp("layout_ckpt")
    val out = tmp("layout_out")
    val log = dir.resolve("multi.log")
    Files.writeString(log, "START one\n  a\nSTART two\n  b\nSTART three\n")
    FlowStreaming.run(spark, FlowConfig.parse(tailFlow(log, defragStage)),
      out.toString, ckpt.toString).stop()
    assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) ===
      classOf[LocalCheckpointFileManager].getName)

    val logged = Seq("offsets", "commits", "state")
      .flatMap(d => files(ckpt.resolve(d)))
    val sidecars = logged.filter { f =>
      val n = f.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }
    assert(sidecars.isEmpty, s"Hadoop sidecars: $sidecars")
    assert(files(ckpt.resolve("commits")).nonEmpty)
    val deltaChecksums = files(ckpt.resolve("state"))
      .map(_.getFileName.toString).filter(_.matches("\\d+\\.delta\\.crc"))
    assert(deltaChecksums.nonEmpty,
      s"no N.delta.crc under state: ${files(ckpt.resolve("state"))}")
    assert(Files.isDirectory(out.resolve("_spark_metadata")))
  }

  test("exactly-once restart: a batch re-run after its commit entry is " +
       "lost adds no rows to the relationship sink") {
    val dir = tmp("eo_in"); val ckpt = tmp("eo_ckpt"); val out = tmp("eo_out")
    val log = dir.resolve("app.log")
    val lines = (0 until 40).map(i => s"line-$i")
    Files.writeString(log, lines.mkString("", "\n", "\n"))
    val flow = FlowConfig.parse(tailFlow(log, tagStage))
    FlowStreaming.run(spark, flow, out.toString, ckpt.toString).stop()

    // lose the last commit entry (and a Hadoop sidecar, where one was
    // written): the restart re-runs that batch from its logged offsets
    val commits = ckpt.resolve("commits")
    val last = names(commits).filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    FlowStreaming.run(spark, flow, out.toString, ckpt.toString).stop()
    assert(names(commits).contains(last.toString))

    val seen = spark.read.parquet(out.toString)
      .select("content").collect().map(_.getString(0)).toSeq
    assert(seen.sorted === lines.sorted)
  }

  test("single writer: a fresh checkpoint over a root another query wrote " +
       "is refused by run, runWithTerminalSink and runCron") {
    val dir = tmp("sw_in"); val out = tmp("sw_out")
    val log = dir.resolve("app.log")
    Files.writeString(log, "a\nb\nc\n")
    val flow = FlowConfig.parse(tailFlow(log, tagStage))
    FlowStreaming.run(spark, flow, out.toString, tmp("sw_ckpt").toString)
      .stop()
    def rows() = spark.read.parquet(out.toString).count()
    assert(rows() === 3)

    val run = intercept[IllegalStateException](
      FlowStreaming.run(spark, flow, out.toString, tmp("sw_fresh").toString))
    assert(run.getMessage.contains("_spark_metadata"))

    val put =
      s"""- name: put
         |  id: p
         |  class: org.apache.nifi.minifi.processors.PutFile
         |  Properties:
         |    Directory: $out
         |Connections:
         |- {id: c1, source id: t, source relationship names: [success], destination id: p}
         |""".stripMargin
    intercept[IllegalStateException](FlowStreaming.runWithTerminalSink(spark,
      FlowConfig.parse(tailFlow(log, put)), tmp("sw_fresh2").toString,
      tmp("sw_fallback").toString))

    intercept[IllegalStateException](FlowStreaming.runCron(spark,
      cronFlow(log), out.toString, tmp("sw_fresh3").toString, maxDrains = 1))
    assert(rows() === 3)
  }

  test("single writer: runCron's repeated drains on one checkpoint pass " +
       "the guard and add only new lines") {
    val dir = tmp("swc_in"); val ckpt = tmp("swc_ckpt"); val out = tmp("swc_out")
    val log = dir.resolve("app.log")
    Files.writeString(log, "a-1\na-2\n")
    val cron = cronFlow(log)
    FlowStreaming.runCron(spark, cron, out.toString, ckpt.toString,
      maxDrains = 2)
    Files.writeString(log, "b-1\n", java.nio.file.StandardOpenOption.APPEND)
    FlowStreaming.runCron(spark, cron, out.toString, ckpt.toString,
      maxDrains = 1)
    val seen = spark.read.parquet(out.toString)
      .select("content").collect().map(_.getString(0)).toSeq
    assert(seen.sorted === Seq("a-1", "a-2", "b-1"))
  }
}
