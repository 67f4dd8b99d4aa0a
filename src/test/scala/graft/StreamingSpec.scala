package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{StatefulOps, TailFileSource}

/** Streaming-state tests (SURVEY §5: tail resume, defragment flush) —
  * mirrors the reference's persistence-tests with checkpoint restarts. */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  test("TailFileSource: emits complete lines, resumes, detects rotation") {
    val dir = tmp("tail"); val ckpt = tmp("ckpt"); val out = tmp("out")
    val log = dir.resolve("app.log")
    Files.writeString(log, "l1\nl2\npartial")

    def startQuery() = spark.readStream
      .format("graft.streaming.TailFileSource")
      .option("path", dir.toString).option("glob", ".*\\.log")
      .load()
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    def emitted(): Seq[String] =
      spark.read.parquet(out.toString).orderBy("lineOffset", "line")
        .collect().map(_.getAs[String]("line")).toSeq

    val q1 = startQuery()
    q1.processAllAvailable()
    // only complete lines — "partial" has no trailing delimiter yet
    assert(emitted() === Seq("l1", "l2"))

    // append: partial completes + one more line; offsets resume mid-file
    Files.writeString(log, "l1\nl2\npartial3\nl4\n")
    q1.processAllAvailable()
    assert(emitted().sorted === Seq("l1", "l2", "l4", "partial3"))
    q1.stop()

    // restart from checkpoint: no re-emission, then rotation resets to 0
    val q2 = startQuery()
    q2.processAllAvailable()
    assert(emitted().size === 4)
    Files.writeString(log, "fresh1\n") // rotated: new head, shorter file
    q2.processAllAvailable()
    assert(emitted().sorted === Seq("fresh1", "l1", "l2", "l4", "partial3"))
    q2.stop()
  }

  test("TailFileSource Initial Start Position = Current Time skips " +
       "pre-existing content (TailFileTests.cpp:1469-1545)") {
    val dir = tmp("tail_isp"); val ckpt = tmp("tail_isp_ckpt")
    val out = tmp("tail_isp_out")
    val log = dir.resolve("app.log")
    Files.writeString(log, "old line 1\nold line 2\n")
    val q = spark.readStream
      .format("graft.streaming.TailFileSource")
      .option("path", dir.toString).option("glob", ".*\\.log")
      .option("initialStartPosition", "Current Time").load()
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    q.processAllAvailable()
    // nothing emitted for the pre-existing lines
    assert(spark.read.parquet(out.toString).count() === 0)
    Files.writeString(log, "old line 1\nold line 2\nnew line\n")
    q.processAllAvailable(); q.stop()
    val lines = spark.read.parquet(out.toString).collect()
      .map(_.getAs[String]("line")).toSeq
    assert(lines === Seq("new line"))

    // a pre-existing UNTERMINATED tail line is also skipped: the snapshot
    // is the file END, not the last delimiter
    val dir2 = tmp("tail_isp2"); val ckpt2 = tmp("tail_isp2_ckpt")
    val out2 = tmp("tail_isp2_out")
    val log2 = dir2.resolve("app.log")
    Files.writeString(log2, "complete\npartial")
    val q2 = spark.readStream
      .format("graft.streaming.TailFileSource")
      .option("path", dir2.toString).option("glob", ".*\\.log")
      .option("initialStartPosition", "Current Time").load()
      .writeStream.format("parquet")
      .option("path", out2.toString)
      .option("checkpointLocation", ckpt2.toString)
      .outputMode("append").start()
    q2.processAllAvailable()
    Files.writeString(log2, "complete\npartialmore\nfresh\n")
    q2.processAllAvailable(); q2.stop()
    val lines2 = spark.read.parquet(out2.toString).collect()
      .map(_.getAs[String]("line")).toSeq
    // "more" completes the pre-existing partial line from the snapshot
    // position; "partialmore" would mean the snapshot rewound
    assert(lines2 === Seq("more", "fresh"))
  }

  test("streaming DefragmentText: single-fragment messages starting with " +
       "pattern emit one behind (DefragmentTextTests.cpp:64-79)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Fragment]
    val out = StatefulOps.defragmentText(input.toDS(), "<[0-9]+>", 0)
    val q = out.writeStream.format("memory").queryName("defrag")
      .outputMode("append").start()

    input.addData(StatefulOps.Fragment("s1", 1, "<1> Foo"))
    q.processAllAvailable()
    // buffered — the message that starts with <1> is not complete yet
    assert(spark.table("defrag").count() === 0)

    input.addData(StatefulOps.Fragment("s1", 2, "<2> Bar"))
    q.processAllAvailable()
    input.addData(StatefulOps.Fragment("s1", 3, "<3> Baz"))
    q.processAllAvailable()
    val msgs = spark.table("defrag").as[StatefulOps.Message].collect()
    assert(msgs.map(_.message).toSeq === Seq("<1> Foo", "<2> Bar"))
    assert(msgs.forall(_.relationship == "success"))
    q.stop()
  }

  test("streaming DefragmentText: fragment splits at its LAST pattern match " +
       "— earlier matches stay inside one message " +
       "(DefragmentTextTests.cpp:98-124, splitFlowFileAtLastPattern)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // START_OF_MESSAGE: split before the last match
    val in1 = MemoryStream[StatefulOps.Fragment]
    val q1 = StatefulOps.defragmentText(in1.toDS(), "<[0-9]+>", 0)
      .writeStream.format("memory").queryName("defrag_ml_start")
      .outputMode("append").start()
    in1.addData(StatefulOps.Fragment("s1", 1, "apple<1> banana<2> cherry<3> dragon "))
    q1.processAllAvailable()
    in1.addData(StatefulOps.Fragment("s1", 2, "fruit<4> elderberry<5> fig<6> grapefruit"))
    q1.processAllAvailable()
    val got1 = spark.table("defrag_ml_start").as[StatefulOps.Message]
      .collect().map(_.message).toSeq
    assert(got1 === Seq("apple<1> banana<2> cherry",
      "<3> dragon fruit<4> elderberry<5> fig"))
    q1.stop()

    // END_OF_MESSAGE: split after the last match
    val in2 = MemoryStream[StatefulOps.Fragment]
    val q2 = StatefulOps.defragmentText(in2.toDS(), "<[0-9]+>", 0,
      patternAtStart = false)
      .writeStream.format("memory").queryName("defrag_ml_end")
      .outputMode("append").start()
    in2.addData(StatefulOps.Fragment("s1", 1, "apple<1> banana<2> cherry<3> dragon "))
    q2.processAllAvailable()
    in2.addData(StatefulOps.Fragment("s1", 2, "fruit<4> elderberry<5> fig<6> grapefruit"))
    q2.processAllAvailable()
    val got2 = spark.table("defrag_ml_end").as[StatefulOps.Message]
      .collect().map(_.message).toSeq
    assert(got2 === Seq("apple<1> banana<2> cherry<3>",
      " dragon fruit<4> elderberry<5> fig<6>"))
    q2.stop()
  }

  test("streaming DefragmentText: contiguous offsets append, a broken " +
       "offset flushes buffer AND fragment to failure " +
       "(DefragmentText.cpp processNextFragment offset guard; " +
       "DefragmentTextTests.cpp:398-409)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Fragment]
    val out = StatefulOps.defragmentText(input.toDS(), "%", 0)
    val q = out.writeStream.format("memory").queryName("defrag_off")
      .outputMode("append").start()

    // the FragmentGenerator sequence: "foo%bar" @0, "%baz,app" @7, "le%" @15
    input.addData(StatefulOps.Fragment("s1", 1, "foo%bar", 0L))
    q.processAllAvailable()
    input.addData(StatefulOps.Fragment("s1", 2, "%baz,app", 7L))
    q.processAllAvailable()
    input.addData(StatefulOps.Fragment("s1", 3, "le%", 15L))
    q.processAllAvailable()
    val ok = spark.table("defrag_off").as[StatefulOps.Message].collect()
    assert(ok.map(_.message).toSeq === Seq("foo", "%bar", "%baz,apple"))
    assert(ok.forall(_.relationship == "success"))

    // buffer holds "%" expecting offset 18; a fragment at 99 breaks the
    // chain: buffer → failure, fragment itself → failure
    input.addData(StatefulOps.Fragment("s1", 4, "stray", 99L))
    q.processAllAvailable()
    val bad = spark.table("defrag_off").as[StatefulOps.Message].collect()
      .filter(_.relationship == "failure")
    assert(bad.map(_.message).toSet === Set("%", "stray"))
    q.stop()
  }

  test("streaming DefragmentText: independent buffers per fragment source " +
       "(DefragmentTextTests.cpp:247-277,411-426)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Fragment]
    val out = StatefulOps.defragmentText(input.toDS(), "%", 0)
    val q = out.writeStream.format("memory").queryName("defrag_src")
      .outputMode("append").start()

    input.addData(
      StatefulOps.Fragment("input_1", 1, "abc%def"),
      StatefulOps.Fragment("input_2", 1, "ABC%DEF"))
    q.processAllAvailable()
    input.addData(
      StatefulOps.Fragment("input_1", 2, "ghi%jkl"),
      StatefulOps.Fragment("input_2", 2, "GHI%JKL"))
    q.processAllAvailable()
    val msgs = spark.table("defrag_src").as[StatefulOps.Message].collect()
    assert(msgs.filter(_.source == "input_1").map(_.message).toSeq ===
      Seq("abc", "%defghi"))
    assert(msgs.filter(_.source == "input_2").map(_.message).toSeq ===
      Seq("ABC", "%DEFGHI"))
    q.stop()
  }

  test("watermark + event-time window drops late data (SURVEY §2.10)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("start"), col("cnt"))
    val q = agg.writeStream.format("memory").queryName("wmk")
      .outputMode("append").start()

    input.addData((ts(1), 1.0), (ts(2), 2.0))
    q.processAllAvailable()
    input.addData((ts(30), 3.0)) // advances watermark to 10:25 → closes 10:00 window
    q.processAllAvailable()
    input.addData((ts(3), 9.9)) // late for the closed 10:00-10:10 window → dropped
    q.processAllAvailable()
    input.addData((ts(45), 4.0)) // closes the 10:30 window
    q.processAllAvailable()
    val rows = spark.table("wmk").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    assert(rows("2026-01-01 10:00:00.0") === 2L) // late 10:03 row not counted
    assert(rows("2026-01-01 10:30:00.0") === 1L)
    q.stop()
  }

  test("streaming DefragmentText: MaxBufferAge flushes stale buffer to expired") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Fragment]
    val out = StatefulOps.defragmentText(input.toDS(), "<[0-9]+>", 300)
    val q = out.writeStream.format("memory").queryName("defrag_age")
      .outputMode("append").start()

    // NOTE: no processAllAvailable here — with ProcessingTimeTimeout the
    // engine keeps scheduling timeout-evaluation batches, so "all available"
    // never settles; poll the sink while the query free-runs instead.
    // Age flush routes to success for start-of-message patterns
    // (DefragmentTextTests.cpp:126-139: "Message" ages out to success) —
    // and to FAILURE for end-of-message patterns (:157-171), tested below.
    input.addData(StatefulOps.Fragment("s1", 1, "Message"))
    eventually(30, 500) {
      spark.table("defrag_age").as[StatefulOps.Message].collect()
        .exists(m => m.source == "s1" && m.message == "Message" &&
          m.relationship == "success")
    }
    q.stop()

    val in2 = MemoryStream[StatefulOps.Fragment]
    val q2 = StatefulOps.defragmentText(in2.toDS(), "<[0-9]+>", 300,
      patternAtStart = false)
      .writeStream.format("memory").queryName("defrag_age_end")
      .outputMode("append").start()
    in2.addData(StatefulOps.Fragment("s1", 1, "Message"))
    eventually(30, 500) {
      spark.table("defrag_age_end").as[StatefulOps.Message].collect()
        .exists(m => m.message == "Message" && m.relationship == "failure")
    }
    q2.stop()
  }

  test("streaming detectDuplicates: first arrival non-duplicate, later " +
       "arrivals duplicate with seen counts, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Keyed]
    val q = StatefulOps.detectDuplicates(input.toDS())
      .writeStream.format("memory").queryName("dedup_seen")
      .outputMode("append").start()
    try {
      // batch 1: two distinct keys + an in-batch repeat
      input.addData(
        StatefulOps.Keyed("h1", 1, "a"),
        StatefulOps.Keyed("h2", 2, "b"),
        StatefulOps.Keyed("h1", 3, "a'"))
      q.processAllAvailable()
      // batch 2: both keys repeat
      input.addData(
        StatefulOps.Keyed("h1", 4, "a''"),
        StatefulOps.Keyed("h2", 5, "b'"))
      q.processAllAvailable()
      val rows = spark.table("dedup_seen").as[StatefulOps.Deduped].collect()
        .sortBy(r => (r.key, r.seen))
      assert(rows.map(r => (r.key, r.relationship, r.seen)).toSeq === Seq(
        ("h1", "non-duplicate", 1L), ("h1", "duplicate", 2L),
        ("h1", "duplicate", 3L),
        ("h2", "non-duplicate", 1L), ("h2", "duplicate", 2L)))
    } finally q.stop()
  }

  test("streaming KMV: per-shard k-min state stays bounded, the merged " +
    "latest sketches reproduce the exact distinct count below k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // stage the arrivals through the same projection the deployment uses
    def arrivals(ord: Long, text: String) = {
      val df = Seq((ord, text)).toDF("ord", "text")
      StatefulOps.shardShingles(df, col("text"), col("ord"),
        n = 5, shards = 3).collect().toSeq
    }
    val t1 = (1 to 10).map(i => s"alpha$i").mkString(" ") // 6 shingles
    val t2 = (1 to 10).map(i => s"beta$i").mkString(" ")  // 6 disjoint
    // exactness at k > per-shard distinct: merged latest sketches ARE the
    // distinct set
    val input = MemoryStream[StatefulOps.HashedArrival]
    val q = StatefulOps.kmvStream(input.toDS(), k = 16)
      .writeStream.format("memory").queryName("kmv_mon")
      .outputMode("append").start()
    try {
      input.addData(arrivals(1, t1): _*)
      q.processAllAvailable()
      input.addData(arrivals(2, t2): _*)   // new values
      input.addData(arrivals(3, t1): _*)   // pure repeats: no new distinct
      q.processAllAvailable()
      val rows = spark.table("kmv_mon").as[StatefulOps.ShardSketch].collect()
      assert(rows.forall(r => r.mins == r.mins.sorted))
      val latest = rows.groupBy(_.shard).values
        .map(_.maxBy(_.nSeen)).toSeq
      assert(latest.flatMap(_.mins).distinct.length === 12)
      // repeats advanced nSeen without adding state
      assert(latest.map(_.nSeen).sum === 18L) // 6 + 6 + 6 arrivals
    } finally q.stop()
    // boundedness at small k: a 40-distinct feed never grows a shard's
    // state past k mins
    val input2 = MemoryStream[StatefulOps.HashedArrival]
    val q2 = StatefulOps.kmvStream(input2.toDS(), k = 4)
      .writeStream.format("memory").queryName("kmv_mon_bounded")
      .outputMode("append").start()
    try {
      val big = (1 to 44).map(i => s"gamma$i").mkString(" ") // 40 shingles
      input2.addData(arrivals(1, big): _*)
      q2.processAllAvailable()
      val rows = spark.table("kmv_mon_bounded")
        .as[StatefulOps.ShardSketch].collect()
      assert(rows.nonEmpty && rows.forall(_.mins.length <= 4))
    } finally q2.stop()
  }

  test("streaming detectDuplicates: an idle key's state expires after " +
       "ageMs and the next arrival is non-duplicate again") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Keyed]
    val q = StatefulOps.detectDuplicates(input.toDS(), ageMs = 300)
      .writeStream.format("memory").queryName("dedup_ttl")
      .outputMode("append").start()
    try {
      input.addData(StatefulOps.Keyed("h1", 1, "a"))
      eventually(30, 250) {
        spark.table("dedup_ttl").count() == 1
      }
      Thread.sleep(700) // let the TTL lapse (timeout batches free-run)
      input.addData(StatefulOps.Keyed("h1", 2, "late"))
      eventually(30, 250) {
        val rows = spark.table("dedup_ttl").as[StatefulOps.Deduped]
          .collect().sortBy(_.seen)
        rows.length == 2 &&
          rows.forall(_.relationship == "non-duplicate") // state expired
      }
    } finally q.stop()
  }

  test("streaming DefragmentText: MaxBufferSize overflow flushes to failure " +
       "(DefragmentText.h:85-87)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Fragment]
    val out = StatefulOps.defragmentText(input.toDS(), "<[0-9]+>", 0,
      maxBufferBytes = 100)
    val q = out.writeStream.format("memory").queryName("defrag_size")
      .outputMode("append").start()

    // DefragmentTextTests.cpp:190-204 Max Buffer test: "Message" buffers
    // under the 100 B cap, 150 '*' overflows → raw-concatenated buffer to
    // failure
    input.addData(StatefulOps.Fragment("s1", 1, "Message"))
    q.processAllAvailable()
    assert(spark.table("defrag_size").count() === 0)
    input.addData(StatefulOps.Fragment("s1", 2, "*" * 150))
    q.processAllAvailable()
    val msgs = spark.table("defrag_size").as[StatefulOps.Message].collect()
    assert(msgs.length === 1)
    assert(msgs.head.relationship === "failure")
    assert(msgs.head.message === "Message" + "*" * 150)
    q.stop()
  }

  test("streaming DefragmentText: END_OF_MESSAGE single-fragment messages " +
       "emit immediately (DefragmentTextTests.cpp:81-96)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Fragment]
    val out = StatefulOps.defragmentText(input.toDS(), "<[0-9]+>", 0,
      patternAtStart = false)
    val q = out.writeStream.format("memory").queryName("defrag_end")
      .outputMode("append").start()

    input.addData(StatefulOps.Fragment("s1", 1, "Foo <1>"))
    q.processAllAvailable()
    input.addData(StatefulOps.Fragment("s1", 2, "Bar <2>"))
    q.processAllAvailable()
    val msgs = spark.table("defrag_end").as[StatefulOps.Message].collect()
    assert(msgs.map(_.message).toSeq === Seq("Foo <1>", "Bar <2>"))
    assert(msgs.forall(_.relationship == "success"))
    q.stop()
  }

  test("QdbSource: max-value state survives checkpoint restart without " +
       "re-emitting (QueryDatabaseTable.cpp:79,112-115)") {
    val dir = tmp("qdb"); val ckpt = tmp("qdb_ckpt"); val out = tmp("qdb_out")
    val table = dir.resolve("t.csv")
    Files.writeString(table, "1,a\n2,b\n3,c\n")

    def startQuery() = spark.readStream
      .format("graft.streaming.QdbSource")
      .option("path", dir.toString).load()
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    def emitted(): Seq[Long] =
      spark.read.parquet(out.toString).collect()
        .map(_.getAs[Long]("id")).toSeq.sorted

    val q1 = startQuery()
    q1.processAllAvailable()
    assert(emitted() === Seq(1L, 2L, 3L))
    q1.stop()

    // rows at/below the persisted max (3) are NOT re-emitted after restart;
    // only the new max-value rows 4 and 5 flow
    Files.writeString(table, "1,a\n2,b\n3,c\n2,dup\n4,d\n5,e\n")
    val q2 = startQuery()
    q2.processAllAvailable()
    assert(emitted() === Seq(1L, 2L, 3L, 4L, 5L))
    q2.stop()
  }

  test("QdbSource: pointing a checkpoint at a different source resets the " +
       "max-value state (QueryDatabaseTableTests.cpp:170-247)") {
    val dirA = tmp("qdb_a"); val dirB = tmp("qdb_b")
    val ckpt = tmp("qdb_reset_ckpt"); val out = tmp("qdb_reset_out")
    Files.writeString(dirA.resolve("t.csv"), "1,a\n2,b\n3,c\n")
    Files.writeString(dirB.resolve("t.csv"), "1,x\n2,y\n")

    def run(dir: java.nio.file.Path): Unit = {
      val q = spark.readStream
        .format("graft.streaming.QdbSource")
        .option("path", dir.toString).load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    run(dirA)
    // same checkpoint, different source: state must RESET — rows 1 and 2 of
    // B re-emit even though A's persisted max (3) would have filtered them
    run(dirB)
    val payloads = spark.read.parquet(out.toString).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"))).toSet
    assert(payloads === Set((1L, "a"), (2L, "b"), (3L, "c"),
      (1L, "x"), (2L, "y")))
  }

  private def eventually(attempts: Int, sleepMs: Long)(cond: => Boolean): Unit = {
    var i = 0
    while (i < attempts && !cond) { Thread.sleep(sleepMs); i += 1 }
    assert(cond, s"condition not met after $attempts attempts")
  }

  test("end-to-end flow slice: tail → route → relationship sink (SURVEY §7.3)") {
    import graft.ops.Routing
    val dir = tmp("flow_in"); val ckpt = tmp("flow_ckpt"); val out = tmp("flow_out")
    Files.writeString(dir.resolve("app.log"),
      "ERROR disk full\nINFO all fine\nERROR cpu hot\nDEBUG x\n")

    val tailed = spark.readStream
      .format("graft.streaming.TailFileSource")
      .option("path", dir.toString).option("glob", ".*\\.log").load()
    val routed = tailed.withColumn("relationship",
      when(col("line").startsWith("ERROR"), "errors")
        .when(col("line").startsWith("INFO"), "info")
        .otherwise("unmatched"))
    val q = graft.streaming.FlowRuntime.runAvailable(
      graft.streaming.FlowRuntime.relationshipSink(routed, out.toString),
      ckpt.toString)
    q.stop()

    val errors = spark.read.parquet(s"$out/relationship=errors")
      .collect().map(_.getAs[String]("line")).sorted
    assert(errors.toSeq === Seq("ERROR cpu hot", "ERROR disk full"))
    assert(spark.read.parquet(s"$out/relationship=info").count() === 1)
    assert(spark.read.parquet(s"$out/relationship=unmatched").count() === 1)
  }

  test("TailFileSource admission control: maxLinesPerTrigger bounds every " +
       "micro-batch, repeated triggers drain the backlog completely") {
    val dir = tmp("cap_in"); val ckpt = tmp("cap_ckpt"); val out = tmp("cap_out")
    Files.writeString(dir.resolve("app.log"),
      (0 until 100).map(i => s"line-$i").mkString("", "\n", "\n"))
    val q = spark.readStream
      .format("graft.streaming.TailFileSource")
      .option("path", dir.toString).option("glob", ".*\\.log")
      .option("maxLinesPerTrigger", "30")
      .load()
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    q.processAllAvailable()
    val batches = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
    q.stop()
    assert(spark.read.parquet(out.toString).count() === 100)
    assert(batches.size >= 4, s"expected >=4 capped batches, got $batches")
    assert(batches.forall(_ <= 30), s"a batch exceeded the cap: $batches")
  }

  test("CRON_DRIVEN flow: drains fire at the Quartz instants the Cron " +
       "engine computes, pick up exactly what arrived since the previous " +
       "instant, and nothing drains between (CronDrivenSchedulingAgent)") {
    val dir = tmp("cron_in"); val ckpt = tmp("cron_ckpt"); val out = tmp("cron_out")
    val log = dir.resolve("app.log")
    Files.writeString(log, "a-1\na-2\na-3\n")
    val yml =
      s"""MiNiFi Config Version: 3
         |Flow Controller: {name: cron flow}
         |Processors:
         |- name: tail
         |  id: tail
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  scheduling strategy: CRON_DRIVEN
         |  scheduling period: '* * * * * *'
         |  Properties:
         |    File to Tail: $log
         |- name: tag
         |  id: tag
         |  class: org.apache.nifi.minifi.processors.UpdateAttribute
         |  Properties:
         |    marker: seen
         |Connections:
         |- id: c1
         |  source id: tail
         |  source relationship names: [success]
         |  destination id: tag
         |""".stripMargin
    val flow = graft.flow.FlowConfig.parse(yml)
    def rows(): Long =
      try spark.read.parquet(s"$out/relationship=success").count()
      catch { case _: Exception => 0L }

    val t0 = java.time.LocalDateTime.now()
    val fires1 = graft.flow.FlowStreaming.runCron(spark, flow, out.toString,
      ckpt.toString, maxDrains = 1)
    // the drain fired AT a computed future cron instant (whole-second
    // boundary for '* * * * * *'), not immediately on call
    assert(fires1.size === 1)
    assert(fires1.head.isAfter(t0))
    assert(fires1.head.getNano === 0)
    assert(rows() === 3)

    // new data between instants does NOT drain — cron, not arrival,
    // triggers the sweep
    Files.writeString(log, "b-4\nb-5\n",
      java.nio.file.StandardOpenOption.APPEND)
    Thread.sleep(200)
    assert(rows() === 3)

    // the next instant picks up ONLY the two new lines (checkpoint
    // continuity: 5 total, not a 3-line re-read)
    val fires2 = graft.flow.FlowStreaming.runCron(spark, flow, out.toString,
      ckpt.toString, maxDrains = 1)
    assert(fires2.head.isAfter(fires1.head))
    assert(fires2.head.getNano === 0)
    assert(rows() === 5)

    // a TIMER_DRIVEN source is rejected — the cron runner is not a
    // generic scheduler
    val timerFlow = graft.flow.FlowConfig.parse(
      yml.replace("CRON_DRIVEN", "TIMER_DRIVEN"))
    intercept[IllegalArgumentException](
      graft.flow.FlowStreaming.runCron(spark, timerFlow, out.toString,
        ckpt.toString, maxDrains = 1))
  }

  test("flow-level back pressure: an explicit connection 'max work queue " +
       "size' becomes per-trigger admission control (SURVEY §2.10 mapping; " +
       "StructuredConnectionParser.cpp:74-84)") {
    val dir = tmp("bp_in"); val ckpt = tmp("bp_ckpt"); val out = tmp("bp_out")
    Files.writeString(dir.resolve("app.log"),
      (0 until 80).map(i => s"r-$i").mkString("", "\n", "\n"))
    val yml =
      s"""MiNiFi Config Version: 3
         |Flow Controller: {name: bp flow}
         |Processors:
         |- name: tail
         |  id: tail
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: ${dir.resolve("app.log")}
         |- name: tag
         |  id: tag
         |  class: org.apache.nifi.minifi.processors.UpdateAttribute
         |  Properties:
         |    marker: seen
         |Connections:
         |- id: c1
         |  source id: tail
         |  source relationship names: [success]
         |  destination id: tag
         |  max work queue size: 25
         |""".stripMargin
    val q = graft.flow.FlowStreaming.run(spark,
      graft.flow.FlowConfig.parse(yml), out.toString, ckpt.toString)
    val batches = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
    q.stop()
    assert(spark.read.parquet(out.toString).count() === 80)
    assert(batches.size >= 4, s"expected >=4 capped batches, got $batches")
    assert(batches.forall(_ <= 25), s"a batch exceeded the cap: $batches")
  }

  test("observeTransfers surfaces the per-relationship transfer ledger in " +
       "the micro-batch progress (ProcessSession.cpp:858-866 ProcessorMetrics)") {
    val dir = tmp("obs_in"); val ckpt = tmp("obs_ckpt"); val out = tmp("obs_out")
    Files.writeString(dir.resolve("app.log"),
      "ERROR aa\nINFO bbbb\nERROR cc\nDEBUG d\n")
    val tailed = spark.readStream
      .format("graft.streaming.TailFileSource")
      .option("path", dir.toString).option("glob", ".*\\.log").load()
    val routed = tailed.select(
      lit("u").as("uuid"),
      map().cast("map<string,string>").as("attributes"),
      col("line").as("content"),
      current_timestamp().as("entryDate"),
      when(col("line").startsWith("ERROR"), "errors")
        .otherwise("other").as("relationship"))
    val observed = graft.streaming.FlowRuntime.observeTransfers(
      routed, Seq("errors", "other"))
    val q = graft.streaming.FlowRuntime.runAvailable(
      graft.streaming.FlowRuntime.relationshipSink(observed, out.toString),
      ckpt.toString)
    val m = q.recentProgress.toSeq.flatMap(p =>
      Option(p.observedMetrics.get("transfers"))).head
    q.stop()
    assert(m.getAs[Long]("rows") === 4)
    assert(m.getAs[Long]("rows_errors") === 2)
    assert(m.getAs[Long]("rows_other") === 2)
    // ERROR lines are 8 bytes each ("ERROR aa"/"ERROR cc")
    assert(m.getAs[Long]("bytes_errors") === 16)
    assert(m.getAs[Long]("bytes") ===
      m.getAs[Long]("bytes_errors") + m.getAs[Long]("bytes_other"))
  }

  test("ProvenanceListener records plan-level lineage events (SURVEY §7.5.7)") {
    import spark.implicits._
    val listener = new graft.streaming.ProvenanceListener
    spark.listenerManager.register(listener)
    try {
      Seq(1, 2, 3).toDF("v").groupBy().count().collect()
      // listener callbacks fire asynchronously after the action
      var i = 0
      while (listener.events.isEmpty && i < 40) { Thread.sleep(250); i += 1 }
      val evs = listener.events
      assert(evs.nonEmpty)
      assert(evs.exists(e => e.error.isEmpty && e.durationNs > 0))
    } finally spark.listenerManager.unregister(listener)
  }

  test("streaming MergeContent bins: full bins flush, remainder buffers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Entry]
    val out = StatefulOps.mergeContentBins(input.toDS(), 2, 0, ",")
    val q = out.writeStream.format("memory").queryName("bins")
      .outputMode("append").start()

    input.addData(
      StatefulOps.Entry("k1", 1, "a", "u1"), StatefulOps.Entry("k1", 2, "b", "u2"),
      StatefulOps.Entry("k1", 3, "c", "u3"), StatefulOps.Entry("k2", 1, "x", "u4"))
    q.processAllAvailable()
    val bins = spark.table("bins").as[StatefulOps.Bin].collect()
    assert(bins.toSeq.map(b => (b.correlation, b.merged, b.relationship)) ===
      Seq(("k1", "a,b", "merged"))) // c and x still below maxEntries
    // JOIN provenance: the bin's parents are its member uuids
    assert(bins.head.parents === "u1,u2")
    q.stop()
  }

  test("streaming DefragmentText carries member uuids into the message's " +
       "parents (JOIN provenance, ProcessSession.cpp:973)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Fragment]
    val out = StatefulOps.defragmentText(input.toDS(), "<[0-9]+>", 0)
    val q = out.writeStream.format("memory").queryName("defrag_prov")
      .outputMode("append").start()

    input.addData(StatefulOps.Fragment("s1", 1, "<1> Foo", -1L, "fa"))
    q.processAllAvailable()
    input.addData(StatefulOps.Fragment("s1", 2, "continued", -1L, "fb"))
    q.processAllAvailable()
    input.addData(StatefulOps.Fragment("s1", 3, "<2> Bar", -1L, "fc"))
    q.processAllAvailable()
    val msgs = spark.table("defrag_prov").as[StatefulOps.Message].collect()
    // "<1> Foo" + "continued" flush as one message when <2> arrives; its
    // parents are the two contributing fragments — the tail "<2> Bar"
    // seeds the next buffer with parent fc
    assert(msgs.map(m => (m.message, m.parents)).toSeq ===
      Seq(("<1> Foocontinued", "fa,fb")))
    q.stop()
  }

  test("streaming MergeContent bins: Maximum Group Size flushes full-by-size " +
       "bins, min thresholds route undersized flushes (BinFiles.h:60-66)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Entry]
    // size-bounded: 10-byte bins, count cap high enough to never trigger;
    // minBinBytes makes a short final flush undersized
    val out = StatefulOps.mergeContentBins(input.toDS(), 100, 0, ",",
      maxBinBytes = 10, minEntries = 2, minBinBytes = 4)
    val q = out.writeStream.format("memory").queryName("bins_sized")
      .outputMode("append").start()

    input.addData(
      StatefulOps.Entry("k1", 1, "aaaa"), StatefulOps.Entry("k1", 2, "bbbb"),
      StatefulOps.Entry("k1", 3, "cccc"),       // 12 chars >= 10 → flush
      StatefulOps.Entry("k1", 4, "dd"))         // buffers (2 < 10)
    q.processAllAvailable()
    var bins = spark.table("bins_sized").as[StatefulOps.Bin].collect()
    assert(bins.toSeq.map(b => (b.correlation, b.merged, b.relationship)) ===
      Seq(("k1", "aaaa,bbbb,cccc", "merged"))) // straddler admitted
    // a second full-by-size flush that misses minEntries → undersized
    input.addData(StatefulOps.Entry("k2", 1, "0123456789ab"))
    q.processAllAvailable()
    bins = spark.table("bins_sized").as[StatefulOps.Bin].collect()
    assert(bins.toSeq.map(b => (b.correlation, b.relationship)).toSet ===
      Set(("k1", "merged"), ("k2", "undersized")))
    q.stop()
  }

  test("streaming MergeContent bins: age-out below the min thresholds " +
       "routes undersized, meeting them merges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.Entry]
    val out = StatefulOps.mergeContentBins(input.toDS(), 100, 300, ",",
      minEntries = 2)
    val q = out.writeStream.format("memory").queryName("bins_age")
      .outputMode("append").start()

    // k1 ages out with 1 entry (< minEntries=2) → undersized;
    // k2 ages out with 2 entries → merged. Poll while the query free-runs
    // (ProcessingTimeTimeout never settles under processAllAvailable).
    input.addData(
      StatefulOps.Entry("k1", 1, "solo"),
      StatefulOps.Entry("k2", 1, "x"), StatefulOps.Entry("k2", 2, "y"))
    eventually(30, 500) {
      val bins = spark.table("bins_age").as[StatefulOps.Bin].collect()
      bins.exists(b => b.correlation == "k1" && b.relationship == "undersized") &&
        bins.exists(b => b.correlation == "k2" && b.merged == "x,y" &&
          b.relationship == "merged")
    }
    q.stop()
  }

  test("bandDocs: the per-row streaming signature equals the batch " +
       "minHashSignatures aggregation value-for-value") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different words about spark engines running fast"))
      .toDF("doc_id", "text")
    val batchSig = graft.pipeline.Dedup
      .minHashSignatures(docs, col("doc_id"), col("text"), 5, 8)
      .collect().map(r => r.getAs[Long]("docId") ->
        (0 until 8).map(k => r.getAs[Long](s"mh$k")).toList).toMap
    val streamSig = StatefulOps.bandDocs(docs, col("doc_id"), col("text"),
        col("doc_id"), 5, 8, 2)
      .collect().map(b => b.docId -> b.sig).toMap
    assert(streamSig === batchSig)
  }

  test("streaming detectNearDuplicates: near-dups colliding in a band " +
       "score above threshold across batches, unrelated docs don't, and " +
       "the bucket cap bounds state without losing detection against " +
       "stored members") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.BandedDoc]
    val q = StatefulOps.detectNearDuplicates(input.toDS(), maxBucket = 2,
        minEstJaccard = 0.5)
      .writeStream.format("memory").queryName("neardup_hits")
      .outputMode("append").start()
    try {
      val sigA = List(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)
      val sigB = List(1L, 2L, 3L, 4L, 5L, 6L, 99L, 98L)  // est 0.75 vs A
      val sigC = List(9L, 9L, 9L, 9L, 9L, 9L, 9L, 9L)    // est 0 vs A/B
      // batch 1: A opens the bucket; C collides in the band but scores 0
      input.addData(
        StatefulOps.BandedDoc("b0", 1, 10L, sigA),
        StatefulOps.BandedDoc("b0", 2, 30L, sigC))
      q.processAllAvailable()
      // batch 2: B arrives later, must hit A (cross-batch state); the
      // bucket is now at cap=2 (A, C) so B itself is NOT stored
      input.addData(StatefulOps.BandedDoc("b0", 3, 20L, sigB))
      q.processAllAvailable()
      // batch 3: a second copy of B — its only >threshold partner (B)
      // was never stored, so it too only hits A (the capped trade)
      input.addData(StatefulOps.BandedDoc("b0", 4, 21L, sigB))
      q.processAllAvailable()
      val hits = spark.table("neardup_hits").as[StatefulOps.NearDupHit]
        .collect().map(h => (h.docId, h.candId, h.estJaccard)).sorted
      assert(hits.toSeq === Seq((20L, 10L, 0.75), (21L, 10L, 0.75)))
    } finally q.stop()
  }

  test("streaming near-dup END-TO-END: parquet file-stream → bandDocs → " +
       "detectNearDuplicates survives a checkpoint RESTART — no rescans, " +
       "no duplicate hits, bucket state bounded and intact across the " +
       "stop/start (the Bench streaming_neardup_e2e chain)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-e2e").toString
    // two near-dup docs + one unrelated, written as TWO parquet files so
    // the restart has a second file to pick up
    val d1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today and sleeps"),
      (30L, "completely different words about spark engines running fast"))
      .toDF("doc_id", "text")
    // exact duplicate of doc 10 (est 1.0 in every band — this test pins
    // restart/state semantics, not banding recall, which the
    // detectNearDuplicates unit test above covers)
    val d2 = Seq(
      (20L, "the quick brown fox jumps over the lazy dog today and sleeps"))
      .toDF("doc_id", "text")
    // stage as FLAT files (the file-stream source lists leaf files of
    // its path, it does not descend into nested .parquet directories —
    // the Bench corpus layout: a dir of part files / a single file)
    def addFlat(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$base/in"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$base/in/$name"))
    }
    addFlat(d1, "f1.parquet")
    def run(): Unit = {
      val docs = spark.readStream
        .schema(d1.schema)
        .option("basePath", s"$base/in")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in")
      val banded = StatefulOps.bandDocs(docs, col("doc_id"), col("text"),
        col("doc_id"), n = 5, numHashes = 8, rowsPerBand = 2)
      val hits = StatefulOps.detectNearDuplicates(banded, maxBucket = 150,
        minEstJaccard = 0.5)
      val q = hits.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()                     // drain file 1; docs 10/30 open buckets
    addFlat(d2, "f2.parquet")
    run()                     // RESTART from the checkpoint; file 2 only
    val out = spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("docId",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("candId",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("estJaccard",
          org.apache.spark.sql.types.DoubleType))))
      .parquet(s"$base/out")
      .select("docId", "candId").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    // doc 20 (file 2, post-restart) hit doc 10's RESTORED bucket state;
    // 30 never matched anything — and 10/30's own drain produced no
    // self-hits, so a rescan-after-restart would show as extra rows
    assert(out.toSeq === Seq((20L, 10L)))
    // restart did not reprocess file 1: the sink holds hits from
    // exactly one (20,10) detection per colliding band, nothing else
    val all = spark.read.parquet(s"$base/out").count()
    val perBand = spark.read.parquet(s"$base/out")
      .groupBy("band").count().collect().map(_.getLong(1))
    assert(perBand.forall(_ === 1L) && all >= 1)
  }

  test("streaming Bloom paragraph dedup: first arrival fresh, repeats " +
       "seen across batches and documents, state stays one fixed bitset " +
       "per shard (Dolma's growing-filter semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulOps.SegArrival]
    val q = StatefulOps.dedupSegmentsStream(input.toDS(),
        bitsPerShard = 4096, numHashes = 4)
      .writeStream.format("memory").queryName("bloom_dedup")
      .outputMode("append").start()
    try {
      // shardSegments is the map-side plane; here arrivals are staged
      // directly with the same shard function (md5 prefix mod 4)
      def shardOf(s: String): Int =
        (BigInt("0" + java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString, 16)
          % 4).toInt
      def arr(ord: Long, doc: Long, idx: Int, s: String) =
        StatefulOps.SegArrival(shardOf(s), ord, doc, idx, s)
      // batch 1: doc 1 carries p1 twice (within-doc repeat) and p2
      input.addData(arr(1, 1L, 0, "p1"), arr(1, 1L, 1, "p2"),
        arr(1, 1L, 2, "p1"))
      q.processAllAvailable()
      // batch 2: doc 2 repeats p2 (cross-batch, cross-doc) + fresh p3
      input.addData(arr(2, 2L, 0, "p2"), arr(2, 2L, 1, "p3"))
      q.processAllAvailable()
      val out = spark.table("bloom_dedup").as[StatefulOps.SegDecision]
        .collect().map(d => (d.docId, d.idx, d.seg, d.relationship)).sorted
      assert(out.toSeq === Seq(
        (1L, 0, "p1", "fresh"), (1L, 1, "p2", "fresh"),
        (1L, 2, "p1", "seen"),
        (2L, 0, "p2", "seen"), (2L, 1, "p3", "fresh")))
    } finally q.stop()

    // the map-side shard plane matches the in-test shard function and
    // explodes positions faithfully
    val docs = Seq((7L, "a b c d e f")).toDF("doc_id", "text")
    val segs = StatefulOps.shardSegments(docs, col("doc_id"),
      graft.pipeline.Dedup.wordWindows(col("text"), 3), col("doc_id"), 4)
      .collect()
    assert(segs.map(s => (s.docId, s.idx, s.seg)).sorted.toSeq ===
      Seq((7L, 0, "a b c"), (7L, 1, "d e f")))
    assert(segs.forall(s => s.shard >= 0 && s.shard < 4))
  }

  test("a TailFile -> DefragmentText stream compiles no classes per batch " +
       "once two batches have run; uuids still differ between batches and " +
       "entryDate is the batch timestamp") {
    val dir = tmp("codegen_in"); val ckpt = tmp("codegen_ckpt")
    val out = tmp("codegen_out")
    val log = dir.resolve("app.log")
    Files.writeString(log, "<1> head\n  body 1\n")
    val yml =
      s"""MiNiFi Config Version: 3
         |Flow Controller: {name: codegen tail}
         |Processors:
         |- name: tail
         |  id: tail
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $log
         |- name: defrag
         |  id: defrag
         |  class: org.apache.nifi.minifi.processors.DefragmentText
         |  Properties:
         |    Pattern: "^<"
         |    Pattern Location: Start of Message
         |Connections:
         |- {id: c1, source id: tail, source relationship names: [success], destination id: defrag}
         |""".stripMargin
    val routed = graft.flow.FlowStreaming.assemble(spark,
      graft.flow.FlowConfig.parse(yml))
    val q = graft.streaming.FlowRuntime.relationshipSink(routed, out.toString)
      .option("checkpointLocation", ckpt.toString).start()
    def batch(b: Int): Unit = {
      if (b > 1) Files.writeString(log, s"<$b> head\n  body $b\n",
        java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable()
    }
    val compiled = try {
      batch(1); batch(2)
      val c0 = Dev.compiles()
      batch(3); batch(4)
      Dev.compiles() - c0
    } finally q.stop()
    assert(compiled === 0)

    // batch b flushes message b-1, so the messages come from the batches
    // with ids 1 to 3, each stamped with its own batch's timestamp
    val rows = spark.read.parquet(out.toString)
      .select(col("uuid"), unix_millis(col("entryDate")), col("content"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.map(_._3).sorted.toSeq ===
      (1 to 3).map(b => s"<$b> head\n  body $b\n"))
    assert(rows.map(_._1).distinct.length === 3)
    val batchMs = (0 to 3).map { b =>
      val meta = Files.readAllLines(ckpt.resolve(s"offsets/$b")).get(1)
      "\"batchTimestampMs\":(\\d+)".r.findFirstMatchIn(meta).get.group(1).toLong
    }
    assert(rows.map(_._2).toSet === batchMs.drop(1).toSet)
    assert(!routed.schema("entryDate").nullable)
  }
}
